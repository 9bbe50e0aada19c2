package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{EventTimeWatermark, Filter,
  Generate, Join, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.skew.SkewJoin

/** Structured Streaming operators over the events stream: watermarked
  * windowed aggregation, gap-based sessionization, and a salted
  * stream-static join (the streaming face of the skew-join idea).
  *
  * North-star extension (SURVEY.md §2.4 "skewed-stream join"); the reference
  * is batch-only. Everything here is declarative `readStream` → transform →
  * `writeStream`; state stays in Spark's streaming state store, never on the
  * driver.
  */
object StreamOps {

  /** Schema of events.parquet with TIMESTAMP(NANOS) read as nanos-long
    * (`spark.sql.legacy.parquet.nanosAsLong=true`) — the pre-round-9
    * fixture layout; round-9 fixtures carry a proper TIMESTAMP(MICROS)
    * `ts`, which [[eventsStream]] detects from the file footer. */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // nanos since epoch
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over an events parquet path; exposes `ts_ns` (exact)
    * and `ts` (microsecond timestamp) whatever physical type the fixture
    * carries (see [[graft.SparkEntry]]'s events reader for the two layouts).
    * The stream schema comes from a one-footer batch read — a driver-side
    * metadata probe, not a data scan. A lone file streams through
    * [[parquetStream]]'s one-file glob. */
  def eventsStream(spark: SparkSession, path: String): DataFrame =
    graft.sources.EventTime.withTsNs(parquetStream(spark, path))

  /** File-source stream over any parquet path (schema from a one-footer
    * batch read — a driver-side metadata probe, not a data scan). The file
    * source takes only a directory or a glob, so a lone file streams through
    * a glob matching just that file (`<parent>/{<name>}`, escaped). */
  def parquetStream(spark: SparkSession, path: String): DataFrame = {
    val f = new java.io.File(path)
    def escaped(s: String) = s.flatMap(c => if ("\\{}[]*?,".contains(c)) s"\\$c" else s"$c")
    val (file, source) =
      if (f.isFile) (escaped(f.getAbsolutePath),
        s"${escaped(f.getAbsoluteFile.getParent)}/{${escaped(f.getName)}}")
      else (path, path)
    val fileSchema = spark.read.parquet(file).schema
    val reader = spark.readStream.schema(fileSchema)
    // harness knob (session conf, unset in production): cap files per
    // micro-batch so a pre-sliced directory replays as a REAL multi-batch
    // stream — the micro-batch-slicing fuzz leg sets it to 1 to drive
    // every stream query through hostile batch boundaries
    spark.conf.getOption("graft.stream.maxFilesPerTrigger")
      .foreach(v => reader.option("maxFilesPerTrigger", v))
    reader.parquet(source)
  }

  /** Tumbling-window counts per event type (with watermark so the query is
    * append-capable on a live stream; memory-sink tests use complete mode). */
  def windowedCounts(stream: DataFrame, windowLen: String = "1 hour",
      watermark: String = "1 hour"): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), min("value").as("min_v"), max("value").as("max_v"))

  /** Gap-based sessionization per user via `session_window` (state-store
    * backed; the declarative alternative to hand-rolled mapGroupsWithState). */
  def sessionCounts(stream: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))

  /** Streaming exact deduplication: each distinct `keyCols` combination is
    * emitted exactly once (append mode, state-store backed — never a driver
    * set). The output carries ONLY the key columns: with payload columns the
    * emitted row would depend on which physical duplicate arrives first —
    * an execution property; keys-only output is a pure data property,
    * oracle-checkable as `SELECT DISTINCT`.
    *
    * Unbounded-stream variant: `withWatermark` + `dropDuplicatesWithinWatermark`
    * ages dedup state out of the store, weakening the contract to
    * exactly-once within the watermark horizon — that is the 100-TB/∞-time
    * configuration; the exact form here keeps one compact key row per
    * distinct key in state. */
  def dedupKeys(
      stream: DataFrame,
      keyCols: Seq[String],
      withinWatermark: Option[(String, String)] = None): DataFrame =
    withinWatermark match {
      case Some((tsCol, horizon)) =>
        stream.withWatermark(tsCol, horizon)
          .select((keyCols :+ tsCol).map(col): _*)
          .dropDuplicatesWithinWatermark(keyCols)
          .select(keyCols.map(col): _*)
      case None =>
        stream.select(keyCols.map(col): _*).dropDuplicates(keyCols)
    }

  /** CMS-gated salted stream-static equi-join: only HOT keys are salted.
    *
    * A Count-Min Sketch over the static side drives a per-key replication
    * factor via the same debiased formula as the batch [[graft.skew.SkewJoin]],
    * and the join runs on its fragment-replicate core. Static rows for a key
    * are replicated `rep(key)` times; stream rows are salted uniformly into
    * `[0, rep(key))` (salts drawn with `conf.CMSseed`), so a hot key's join
    * work spreads across `rep(key)` tasks. Cold keys get rep = 1 — no replication, no
    * extra shuffle volume (the previous design replicated the ENTIRE static
    * side 8× unconditionally, turning a 1-TB dimension into 8 TB of shuffle
    * whether or not any key was hot). Row multiset equals the plain stream-static
    * join for any rep values: each stream row meets exactly one replica of
    * every matching static row.
    */
  def streamStaticSkewJoin(
      stream: DataFrame,
      static: DataFrame,
      usingColumns: Seq[String],
      conf: graft.skew.SkewJoinConf = graft.skew.SkewJoinConf()): DataFrame =
    SkewJoin.fragmentReplicate(stream, static, usingColumns,
      Some(SkewJoin.replication(Seq(static), usingColumns, conf).head), None,
      conf.CMSseed, "inner")

  /** Watermarked stream-STREAM interval equi-join: each left row pairs with
    * the right rows sharing its `usingCols` whose event time falls in
    * `[left.ts + lower, left.ts + upper)`.
    *
    * This is the stateful two-sided join (both sides buffer in the state
    * store until the watermark proves no more matches can arrive); the time
    * bounds are expressed on the watermarked event-time columns themselves —
    * that is what lets Spark derive the state retention window and evict
    * buffered rows instead of holding both streams forever (the difference
    * between a join that runs for months and one that OOMs in an hour).
    * Inner join ⇒ the emitted multiset equals the equivalent batch interval
    * join PROVIDED no row arrives more than `watermark` behind the max
    * observed event time — late rows beyond that are dropped by design.
    * Single-batch/in-order bounded replays (the test and verify shape)
    * satisfy the proviso trivially; µs event-time grain keeps the equality
    * oracle-exact. */
  def intervalJoin(
      left: DataFrame, right: DataFrame,
      usingCols: Seq[String],
      lower: String, upper: String,
      watermark: String = "1 hour"): DataFrame =
    saltedIntervalJoin(left, right, usingCols, lower, upper, None, 0L, watermark)

  /** CMS-gated salted stream-STREAM interval join — [[intervalJoin]] with
    * the fragment-replicate treatment for hot keys on BOTH buffered sides.
    *
    * A hot key in a stream-stream join concentrates ALL of that key's
    * buffered state (both sides) plus its pairwise matching work on the one
    * task that owns the key's hash partition. Salting spreads it: left rows
    * draw a fragment `[0, rep(key))` (salts drawn with `conf.CMSseed`),
    * right rows replicate to every fragment, and the join condition gains
    * salt equality — each matching (left, right) pair still meets exactly
    * ONCE (in the left row's fragment), so the emitted multiset equals
    * [[intervalJoin]]'s for any rep values. Hot-key state and CPU spread
    * over `rep(key)` tasks; the price is the right side's state growing by
    * the same factor — the CMS gate keeps that multiplier 1 for every cold
    * key.
    *
    * The sketch comes from `hotKeySource`, a STATIC frame (yesterday's
    * events, a dimension table): a streaming query cannot scan its own
    * unbounded input up front, so hotness is a model parameter here — the
    * same historical-sample pattern production skew mitigation uses. A key
    * hot only in data NEWER than `hotKeySource` stays unsalted for the life
    * of the query; [[skewedIntervalJoinAdaptive]] + [[RefreshableHotness]]
    * close that staleness gap across restarts. */
  def skewedIntervalJoin(
      left: DataFrame, right: DataFrame,
      usingCols: Seq[String],
      lower: String, upper: String,
      hotKeySource: DataFrame,
      conf: graft.skew.SkewJoinConf = graft.skew.SkewJoinConf(),
      watermark: String = "1 hour"): DataFrame =
    saltedIntervalJoin(left, right, usingCols, lower, upper,
      Some(SkewJoin.replication(Seq(hotKeySource), usingCols, conf).head), conf.CMSseed,
      watermark)

  /** [[skewedIntervalJoin]] with an adaptive hotness model: the replication
    * column probes `hotness`'s CURRENT sketch snapshot — seeded from a
    * historical sample and folded forward per micro-batch by the model's
    * `foreachBatch` monitor — so a key that became hot mid-stream is salted
    * when the join (re)starts. See [[RefreshableHotness]] for the refresh /
    * restart semantics and the residual one-restart staleness bound. */
  def skewedIntervalJoinAdaptive(
      left: DataFrame, right: DataFrame,
      usingCols: Seq[String],
      lower: String, upper: String,
      hotness: RefreshableHotness,
      watermark: String = "1 hour"): DataFrame =
    saltedIntervalJoin(left, right, usingCols, lower, upper,
      Some(hotness.replication(left.sparkSession)), hotness.conf.CMSseed, watermark)

  /** The interval join behind [[intervalJoin]] and both skewed variants: the
    * left side fragments by `rep` over [[SkewJoin.saltLayout]] (none without
    * `rep`), and the salts join the keys in the equality the right side's
    * `r_` renames pair up. Salting runs before the renames, so the rep probe
    * sees the original key names. */
  private def saltedIntervalJoin(
      left: DataFrame, right: DataFrame,
      usingCols: Seq[String],
      lower: String, upper: String,
      rep: Option[Column], seed: Long,
      watermark: String): DataFrame = {
    val (lSalted, rSalted, salts) = SkewJoin.saltLayout(left, right, rep, None, seed)
    val keys = usingCols ++ salts
    val l = lSalted.withWatermark("ts", watermark)
    val r = keys.foldLeft(
        rSalted.withColumnRenamed("ts", "r_ts")
          .withWatermark("r_ts", watermark)) {
        (df, c) => df.withColumnRenamed(c, s"r_$c")
      }
    val keyEq = keys.map(c => col(c) === col(s"r_$c")).reduce(_ && _)
    val timeRange =
      col("r_ts") >= col("ts") + expr(s"INTERVAL $lower") &&
        col("r_ts") < col("ts") + expr(s"INTERVAL $upper")
    l.join(r, keyEq && timeRange, "inner").drop(salts ++ salts.map("r_" + _): _*)
  }

  /** Running per-user event count via `flatMapGroupsWithState` — the
    * hand-rolled-state face of the streaming surface (everything else here
    * is declarative; this is the escape hatch SURVEY §2.4 promised for
    * custom state machines the built-ins can't express).
    *
    * State is one long per user in the state store (never on the driver);
    * each micro-batch emits the updated running count for the users it
    * touched (update semantics). The count is monotone, so `max(n_events)`
    * per user over the update stream equals the final total regardless of
    * how the file source batches the input — that determinism is what makes
    * a custom-state operator oracle-checkable at all. */
  def runningUserCounts(stream: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = stream.sparkSession
    import spark.implicits._
    // Option key: a NULL user_id is an ordinary group (the batch
    // `GROUP BY` convention this fold must converge to) — a bare Long
    // key would kill the stream with NOT_NULL_ASSERT_VIOLATION on the
    // first NULL (r15 differential fuzz finding)
    stream.select(col("user_id").cast("long"))
      .as[Option[Long]]
      .groupByKey(identity)
      .flatMapGroupsWithState[Long, (Option[Long], Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (uid: Option[Long], rows: Iterator[Option[Long]], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          Iterator((uid, n))
      }
      .toDF("user_id", "n_events")
  }

  /** Streaming CDC last-writer-wins fold (`flatMapGroupsWithState`, update
    * mode): per key, keep the highest-`seq` mutation seen so far and emit
    * it whenever it changes — the live face of
    * [[graft.operators.CdcApply.applyChangelog]]'s bounded per-key argmax.
    * The converged state equals the batch argmax over the same changelog
    * EXACTLY (the fold `max by seq` is commutative/associative, so
    * micro-batch slicing can't change it); each emission carries the state
    * seq, so the serve side takes the max-seq row per key (GroupedTopK k=1)
    * and applies it to a base snapshot with the same one-join apply as the
    * batch path.
    *
    * '''Plan shape (the ∞-time design).''' State is ONE (seq, op, attr)
    * per key — never the key's history; a key churning 10⁹ versions holds
    * 3 fields of state and emits at most once per micro-batch. The
    * changelog contract matches CdcApply: `op ∈ {I, U, D}` and `(key,
    * seq)` unique — deletes stay IN state (a tombstone must win over a
    * late lower-seq update; dropping it would resurrect the row).
    *
    * Key-type note: the state key is the STRING form of `keyCol` (the
    * kmvDistinctUpdates canonicalization); serve-side joins against a
    * non-string base key cast back. */
  def cdcLastWriterUpdates(
      changelog: DataFrame,
      keyCol: String,
      attrCol: String,
      opCol: String = "op",
      seqCol: String = "seq"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = changelog.sparkSession
    import spark.implicits._
    changelog
      .filter(col(keyCol).isNotNull && col(seqCol).isNotNull)
      .select(col(keyCol).cast("string"), col(seqCol).cast("long"),
        col(opCol).cast("string"), col(attrCol).cast("string"))
      .as[(String, Long, String, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, String, String), (String, Long, String, String)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Long, String, String)],
         state: GroupState[(Long, String, String)]) =>
          val best = (state.getOption.iterator ++
            rows.map(r => (r._2, r._3, r._4))).maxBy(_._1)
          if (!state.getOption.contains(best)) {
            state.update(best)
            Iterator((key, best._1, best._2, best._3))
          } else Iterator.empty
      }
      .toDF(keyCol, seqCol, opCol, attrCol)
  }

  /** Streaming KMV distinct-count sketch per group (`flatMapGroupsWithState`
    * update mode): maintains, per group, the k smallest DISTINCT 48-bit
    * hashes of `valueCol` — the streaming face of
    * [[graft.sketch.KmvOps.kmvDistinct]], same md5-prefix hash, same
    * integer `(k-1)·M div h_k` estimator, so the converged stream state
    * equals the batch sketch EXACTLY (and the same DuckDB replay gates it).
    *
    * The state fold (union distinct hashes, keep k smallest) is
    * commutative and associative, so the final state is independent of
    * how the source slices micro-batches — each emitted update carries a
    * per-group monotone `update_seq`, and the serve side takes the
    * max-seq row per group as the final sketch.
    *
    * '''Plan shape (the 100-TB/∞-time design).''' State is k longs per
    * group in the state store (bounded, never the distinct set itself —
    * `count(DISTINCT)` over a stream is unbounded state); the hash is
    * computed declaratively BEFORE grouping, so the shuffle carries
    * (group, 8-byte hash), not the value payload.
    *
    * NULL `valueCol` rows are skipped (filtered before the typed encoder),
    * matching the batch [[graft.functions.KmvSketchAgg]] NULL semantics
    * exactly — a stream with nulls converges to the same state as the
    * batch sketch over the same rows.
    *
    * Key-type note: `groupCol` is cast to STRING for the typed `groupByKey`
    * state key, so the emitted group column is StringType regardless of the
    * input key type. Serve-side joins against a batch `kmvSketch` output on
    * a non-string key (e.g. a long id) must cast one side; the string form
    * is canonical here because the state-store key must be a stable,
    * encoder-friendly scalar across restarts. */
  def kmvDistinctUpdates(
      stream: DataFrame, groupCol: String, valueCol: String,
      k: Int = 16): DataFrame = {
    require(k >= 2, "k must be at least 2")
    require(k <= 32768, s"(k-1)*M must stay inside int64: k=$k exceeds 32768")
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = stream.sparkSession
    import spark.implicits._
    val m = graft.sketch.KmvOps.M
    // NULL values hash to NULL md5 and the primitive-Long encoder would
    // NPE; filter first — this also matches batch KmvSketchAgg, which
    // skips NULL inputs silently.
    val hashed = stream.filter(col(valueCol).isNotNull).select(
      col(groupCol).cast("string"),
      conv(substring(md5(col(valueCol).cast("string")), 1, 12), 16, 10)
        .cast("long"))
      .as[(String, Long)]
    hashed
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Array[Long]), (String, Long, Long, Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (grp: String, rows: Iterator[(String, Long)],
            state: GroupState[(Long, Array[Long])]) =>
          val (seq, old) = state.getOption.getOrElse((0L, Array.empty[Long]))
          val merged = (old.iterator ++ rows.map(_._2))
            .toArray.distinct.sorted.take(k)
          state.update((seq + 1, merged))
          val n = merged.length.toLong
          val kth = if (merged.isEmpty) 0L else merged.last
          val est = if (n < k || kth <= 0L) n else (k - 1).toLong * m / kth
          Iterator((grp, seq + 1, n, kth, est))
      }
      .toDF(groupCol, "update_seq", "n_sample", "kth_hash", "est_distinct")
  }

  /** Streaming disorder/lateness audit (update mode): per group, a
    * handful of counters of state — running event-time max, out-of-order
    * count, late counts at fixed delay thresholds, max lateness — the
    * live census that tells you which watermark a stream can afford.
    * Within each micro-batch rows are folded in `arrivalCol` order (the
    * cross-batch order is the file/offset order, which the file source
    * already delivers in arrival sequence), so the converged counters
    * equal the batch [[graft.SparkEntry]] `watermark_audit` exactly.
    * That cross-batch assumption is GUARDED, not trusted: the max
    * `arrivalCol` seen is tracked in state, and a batch that delivers a
    * row below it (a reordering source or repartitioned upstream) fails
    * the task loudly instead of silently converging to wrong counters.
    * `thresholdsNs` must be ascending.
    *
    * '''State-schema compatibility.''' Adding that guard widened the
    * per-group state from an 8-tuple to a 9-tuple (the tracked max
    * `arrivalCol`); flatMapGroupsWithState state is not schema-evolvable,
    * so restoring a query from a checkpoint written by the 8-tuple
    * version fails state deserialization. Restarting this operator across
    * the upgrade requires a FRESH checkpoint directory (counters restart
    * from zero — acceptable for a diagnostic census; there is no
    * old-schema migration path by design). */
  def latenessUpdates(
      stream: DataFrame, groupCol: String,
      arrivalCol: String, tsCol: String,
      thresholdsNs: Seq[Long] = Seq(60000000000L, 300000000000L, 3600000000000L))
      : DataFrame = {
    require(thresholdsNs.size == 3 && thresholdsNs == thresholdsNs.sorted,
      "latenessUpdates: exactly 3 ascending thresholds")
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = stream.sparkSession
    import spark.implicits._
    val Seq(t1, t2, t3) = thresholdsNs
    val pts = stream.select(col(groupCol).cast("string"),
      col(arrivalCol).cast("long"), col(tsCol).cast("long"))
      .as[(String, Long, Long)]
    pts.groupByKey(_._1)
      .flatMapGroupsWithState[
        (Long, Long, Long, Long, Long, Long, Long, Long, Long),
        (String, Long, Long, Long, Long, Long, Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (grp: String, rows: Iterator[(String, Long, Long)],
            state: GroupState[
              (Long, Long, Long, Long, Long, Long, Long, Long, Long)]) =>
          var (seq, n, maxTs, nOoo, n1, n2, n3, maxLate, maxArr) =
            state.getOption
              .getOrElse((0L, 0L, Long.MinValue, 0L, 0L, 0L, 0L, 0L,
                Long.MinValue))
          rows.toSeq.sortBy(_._2).foreach { case (_, arr, ts) =>
            if (arr < maxArr)
              throw new IllegalStateException(
                s"latenessUpdates: group $grp received arrival $arr below " +
                  s"a prior batch's max $maxArr — the source is delivering " +
                  "slices out of arrival order; counters would diverge " +
                  "from the batch watermark_audit census")
            if (arr > maxArr) maxArr = arr
            n += 1
            val late = if (maxTs == Long.MinValue) 0L else maxTs - ts
            if (late > 0) nOoo += 1
            if (late > t1) n1 += 1
            if (late > t2) n2 += 1
            if (late > t3) n3 += 1
            if (late > maxLate) maxLate = late
            if (ts > maxTs) maxTs = ts
          }
          state.update((seq + 1, n, maxTs, nOoo, n1, n2, n3, maxLate, maxArr))
          Iterator((grp, seq + 1, n, nOoo, n1, n2, n3, maxLate))
      }
      .toDF(groupCol, "update_seq", "n", "n_ooo",
        "n_late_1m", "n_late_5m", "n_late_1h", "max_late_ns")
  }

  /** Streaming HLL distinct-count sketch (update mode): `2^p` one-byte
    * max-rank registers of state per group — the textbook mergeable
    * streaming distinct counter (vs [[kmvDistinctUpdates]]'s k longs; both
    * exist so pipelines can cross-check sketches). Same engine-portable
    * register rule as the batch [[graft.sketch.HllOps]] (48-bit md5-prefix
    * hash, leading-zero rank), same all-integer estimator — the converged
    * (last-update) row equals the batch sketch bit-for-bit, which is how
    * the oracle gates it. NULL values skipped, matching batch. */
  def hllDistinctUpdates(
      stream: DataFrame, groupCol: String, valueCol: String,
      p: Int = 6): DataFrame = {
    require(p >= 2 && p <= 16, s"p must be in [2,16]: got $p")
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = stream.sparkSession
    import spark.implicits._
    val sfx = 48 - p
    val m = 1 << p
    val hashed = stream.filter(col(valueCol).isNotNull).select(
      col(groupCol).cast("string"),
      conv(substring(md5(col(valueCol).cast("string")), 1, 12), 16, 10)
        .cast("long"))
      .as[(String, Long)]
    hashed
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Array[Byte]), (String, Long, Long, Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (grp: String, rows: Iterator[(String, Long)],
            state: GroupState[(Long, Array[Byte])]) =>
          val (seq, old) = state.getOption.getOrElse((0L, new Array[Byte](m)))
          val regs = old.clone()
          rows.foreach { case (_, h) =>
            val bucket = (h >>> sfx).toInt
            val suffix = h & ((1L << sfx) - 1)
            val reg = (if (suffix == 0) sfx + 1
              else sfx + 1 - (64 - java.lang.Long.numberOfLeadingZeros(suffix))).toByte
            if (reg > regs(bucket)) regs(bucket) = reg
          }
          state.update((seq + 1, regs))
          var used = 0L
          var denom = 0L
          var b = 0
          while (b < m) {
            if (regs(b) > 0) used += 1
            denom += 1L << (sfx + 1 - regs(b))
            b += 1
          }
          // α_scaled = 709/1000 (the batch constant); all-integer division
          val est = (BigInt(709) * m * m * (BigInt(1) << (sfx + 1)) /
            (BigInt(1000) * denom)).toLong
          Iterator((grp, seq + 1, used, denom, est))
      }
      .toDF(groupCol, "update_seq", "used_buckets", "denom_q", "est_distinct")
  }

  /** Streaming per-group OLS trend (update mode): the live "is this metric
    * creeping" monitor. State per group is the five classic power sums
    * `(n, Σx, Σy, Σxy, Σx²)` — constant-size, mergeable, never the points —
    * held as decimal strings so the arithmetic is EXACT 128-bit+ integer
    * math (int64 overflows `Σxy` within ~10⁴ rows at second×micro-unit
    * scale; the batch [[graft.operators.Trend]] uses decimal(38,0) for the
    * same reason). Each update emits the slope over everything seen so
    * far: `slope_ppm = sign·(|n·Σxy − ΣxΣy|·10⁶ div (n·Σx² − Σx²))`,
    * truncation toward zero — the converged (last-update) row equals the
    * batch operator bit-for-bit, which is how the oracle gates it.
    *
    * Caller supplies integral `x`/`y` columns (same exactness contract as
    * the batch operator: rebased epoch seconds, micro-quantized metric).
    * NULL x or y rows are skipped, matching the batch filter. */
  def trendUpdates(
      stream: DataFrame, groupCol: String,
      x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = stream.sparkSession
    import spark.implicits._
    val pts = stream
      .select(col(groupCol).cast("string").as("g"),
        x.cast("long").as("x"), y.cast("long").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .as[(String, Long, Long)]
    pts.groupByKey(_._1)
      .flatMapGroupsWithState[
        (Long, Long, String, String, String, String),
        (String, Long, Long, Option[Long])](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (grp: String, rows: Iterator[(String, Long, Long)],
            state: GroupState[(Long, Long, String, String, String, String)]) =>
          val (seq, n0, sx0, sy0, sxy0, sxx0) = state.getOption
            .getOrElse((0L, 0L, "0", "0", "0", "0"))
          var n = n0
          var sx = BigInt(sx0); var sy = BigInt(sy0)
          var sxy = BigInt(sxy0); var sxx = BigInt(sxx0)
          rows.foreach { case (_, xv, yv) =>
            n += 1
            val xb = BigInt(xv)
            sx += xb; sy += BigInt(yv)
            sxy += xb * yv; sxx += xb * xv
          }
          state.update((seq + 1, n, sx.toString, sy.toString,
            sxy.toString, sxx.toString))
          val num = BigInt(n) * sxy - sx * sy
          val den = BigInt(n) * sxx - sx * sx
          // BigInt `/` truncates toward zero on the non-negative |num|,
          // matching the batch decimal `div` and the oracle's floor-`//`
          val slope =
            if (den == 0) None
            else Some((num.signum * (num.abs * 1000000 / den)).toLong)
          Iterator((grp, seq + 1, n, slope))
      }
      .toDF(groupCol, "update_seq", "n", "slope_ppm")
  }

  /** Streaming integer EWMA (α = aNum/aDen) over the per-group (x, y)
    * grid — the live face of [[graft.operators.Trend.ewmaIntSeries]].
    *
    * EWMA is ORDER-dependent (each step anchors on the previous smoothed
    * value), and a raw event stream delivers days out of order, so unlike
    * the power-sum folds this state is the (bounded) GRID itself: per
    * group a `x → Σy` map, re-smoothed in x order on every update. That
    * buys exact batch equality under ANY arrival order — the converged
    * (last-update) row per group equals the final row of the batch series
    * bit-for-bit, which is how the oracle gates it. State is bounded by
    * the grid cardinality (days × groups — the same boundedness the batch
    * operator's per-group fold already assumes), NOT by event count.
    *
    * Emits per update: (group, update_seq, x, y, ewma) for the LAST grid
    * point seen so far. */
  def ewmaUpdates(
      stream: DataFrame, groupCol: String,
      x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column,
      aNum: Long = 1L, aDen: Long = 4L): DataFrame = {
    require(aDen > 0 && aNum > 0 && aNum <= aDen,
      s"alpha must satisfy 0 < aNum/aDen <= 1, got $aNum/$aDen")
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = stream.sparkSession
    import spark.implicits._
    val pts = stream
      .select(col(groupCol).cast("string").as("g"),
        x.cast("long").as("x"), y.cast("long").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .as[(String, Long, Long)]
    pts.groupByKey(_._1)
      .flatMapGroupsWithState[
        (Long, Map[Long, Long]),
        (String, Long, Long, Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (grp: String, rows: Iterator[(String, Long, Long)],
            state: GroupState[(Long, Map[Long, Long])]) =>
          val (seq, grid0) = state.getOption.getOrElse((0L, Map.empty[Long, Long]))
          val grid = rows.foldLeft(grid0) { case (g, (_, xv, yv)) =>
            g.updated(xv, g.getOrElse(xv, 0L) + yv)
          }
          state.update((seq + 1, grid))
          // re-smooth the bounded grid in x order: s₀ = y₀, then the
          // sign-split truncating recurrence — identical to the batch fold
          val pts = grid.toSeq.sorted
          val ewma = pts.tail.foldLeft(pts.head._2) { case (s, (_, yv)) =>
            val v = aNum * yv + (aDen - aNum) * s
            v.signum * (v.abs / aDen)
          }
          val (lastX, lastY) = pts.last
          Iterator((grp, seq + 1, lastX, lastY, ewma))
      }
      .toDF(groupCol, "update_seq", "x", "y", "ewma")
  }

  /** Streaming cooldown-throttle fold — the live face of
    * [[graft.operators.Sessionize.throttle]]: state is the accumulated
    * per-key (ts, tie) event set itself (the same state-is-the-grid
    * contract as [[ewmaUpdates]] — the kept-anchored recurrence is a
    * sequential fold over the SORTED events, so no smaller state can
    * survive out-of-order arrival), and every update re-runs the batch
    * operator's exact fold over the re-sorted set. Arrival order therefore
    * cannot change the converged answer: the converged (max update_seq)
    * row per key carries the same kept-count and last-kept-ts the batch
    * throttle produces on the full table.
    *
    * Emits one row per (key, update):
    * `(key, update_seq, n_events, n_kept, last_kept_ts)`. Duplicate
    * (ts, tie) deliveries collapse (at-least-once safe). Bounded per-key
    * state is the contract — per-entity event residency, the assumption
    * every per-key window in the batch library already makes. */
  def throttleUpdates(
      stream: DataFrame, keyCol: org.apache.spark.sql.Column,
      ts: org.apache.spark.sql.Column, tie: org.apache.spark.sql.Column,
      cooldown: Long): DataFrame = {
    require(cooldown >= 0, s"cooldown must be non-negative, got $cooldown")
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = stream.sparkSession
    import spark.implicits._
    val pts = stream
      .select(keyCol.cast("string").as("g"),
        ts.cast("long").as("ts"), tie.cast("long").as("tie"))
      .filter(col("ts").isNotNull && col("tie").isNotNull)
      .as[(String, Long, Long)]
    pts.groupByKey(_._1)
      .flatMapGroupsWithState[
        (Long, Seq[(Long, Long)]),
        (String, Long, Long, Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (grp: String, rows: Iterator[(String, Long, Long)],
            state: GroupState[(Long, Seq[(Long, Long)])]) =>
          val (seq, evs0) = state.getOption.getOrElse((0L, Seq.empty[(Long, Long)]))
          val evs = (evs0 ++ rows.map(r => (r._2, r._3))).distinct.sorted
          state.update((seq + 1, evs))
          // the batch operator's kept-anchored fold, verbatim semantics:
          // keep iff nothing kept yet or ts − lastKept ≥ cooldown
          val (nKept, lastKept) = evs.foldLeft((0L, Option.empty[Long])) {
            case ((k, last), (t, _)) =>
              if (last.isEmpty || t - last.get >= cooldown) (k + 1, Some(t))
              else (k, last)
          }
          Iterator((grp, seq + 1, evs.size.toLong, nKept, lastKept.get))
      }
      .toDF("key", "update_seq", "n_events", "n_kept", "last_kept_ts")
  }

  /** Streaming mean-shift change-point fold — the live face of
    * [[graft.operators.ChangePoint.meanShiftChangePoint]]: state is the
    * bounded per-group (x → Σy) grid itself (the same state contract as
    * [[ewmaUpdates]]), and every update re-locates the best split over the
    * re-sorted grid with the IDENTICAL integer convention (exact
    * cross-multiplied mean difference `t·Sn − n·St` in BigInt — the
    * batch operator's decimal(38,0) — truncated ppm, argmax of |ppm| with
    * ties to the earliest grid x). Arrival order therefore cannot change
    * the converged answer: the fold is a pure function of the accumulated
    * grid, and the converged (max update_seq) row per group equals the
    * batch operator's row bit-for-bit.
    *
    * Emits one row per (group, update) once the grid has ≥ 2 points:
    * `(group, update_seq, n_grid, split_x, shift_ppm)`. Bounded per-group
    * state is the contract (a daily grid, ≤ a few thousand entries per
    * group at any horizon). */
  def changePointUpdates(
      stream: DataFrame, groupCol: String,
      x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = stream.sparkSession
    import spark.implicits._
    val pts = stream
      .select(col(groupCol).cast("string").as("g"),
        x.cast("long").as("x"), y.cast("long").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .as[(String, Long, Long)]
    pts.groupByKey(_._1)
      .flatMapGroupsWithState[
        (Long, Map[Long, Long]),
        (String, Long, Long, Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (grp: String, rows: Iterator[(String, Long, Long)],
            state: GroupState[(Long, Map[Long, Long])]) =>
          val (seq, grid0) = state.getOption.getOrElse((0L, Map.empty[Long, Long]))
          val grid = rows.foldLeft(grid0) { case (g, (_, xv, yv)) =>
            g.updated(xv, g.getOrElse(xv, 0L) + yv)
          }
          state.update((seq + 1, grid))
          val pts = grid.toSeq.sorted
          val n = pts.size
          if (n < 2) Iterator.empty
          else {
            val sn = pts.map(p => BigInt(p._2)).sum
            var st = BigInt(0)
            var bestX = 0L
            var bestPpm = 0L
            var first = true
            for (t <- 1 until n) {
              st += pts(t - 1)._2
              val num = BigInt(t) * sn - BigInt(n) * st
              val ppm = ((if (num < 0) BigInt(-1) else BigInt(1)) *
                ((num.abs * 1000000) / (BigInt(t) * BigInt(n - t)))).toLong
              if (first || math.abs(ppm) > math.abs(bestPpm)) {
                bestX = pts(t - 1)._1; bestPpm = ppm; first = false
              } // strict > keeps the earliest x on ties, same as the batch sort
            }
            Iterator((grp, seq + 1, n.toLong, bestX, bestPpm))
          }
      }
      .toDF(groupCol, "update_seq", "n_grid", "split_x", "shift_ppm")
  }

  /** Streaming incremental rollup maintenance — the live face of
    * [[graft.operators.RollupMaintain.applyAggDelta]]: per group, fold the
    * I/D retract stream into (count, sum) state. The fold (signed count,
    * signed sum) is commutative and associative, so the converged (max
    * `update_seq`) row per group equals the batch delta-apply EXACTLY
    * under any micro-batch slicing or arrival order.
    *
    * A group folded to count 0 still EMITS its zero row — an update-mode
    * stream cannot retract previously-emitted rows, so the zero row IS
    * the downstream deletion signal; the serve side filters `n > 0` after
    * the max-seq pick (exactly what the batch operator's drop does). A
    * negative count or an op outside {I, D} throws, matching the batch
    * guards. The negativity check runs AFTER each micro-batch's fold, so
    * arrival order WITHIN a batch is free; across batches the source must
    * be causal (a retraction must not arrive in an earlier micro-batch
    * than its insertion — the standard retract-stream contract; violating
    * it is indistinguishable from retracting a never-absorbed row).
    *
    * '''Plan shape (the ∞-time design).''' State is (seq, n, sum) per
    * group — never the group's history; a group churning 10⁹
    * inserts/retracts holds 3 longs of state and emits at most once per
    * micro-batch.
    *
    * Key-type note: `keyCol` may be a composite expression; it is cast to
    * STRING for the typed state key (the kmvDistinctUpdates
    * canonicalization) — the serve side decodes composites itself. */
  def rollupMaintainUpdates(
      stream: DataFrame,
      keyCol: org.apache.spark.sql.Column,
      measureCol: org.apache.spark.sql.Column,
      opCol: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = stream.sparkSession
    import spark.implicits._
    // NULL measures absorb as the additive identity 0 — the row still
    // counts toward n, the sum is unchanged (the same convention
    // RollupMaintain.applyAggDelta's sum-coalesce encodes, so the two
    // faces stay equal on hostile data; differential-fuzz-checked r15).
    // Without the coalesce a NULL measure kills the whole stream with
    // NOT_NULL_ASSERT_VIOLATION at the typed boundary.
    val rows = stream
      .select(keyCol.cast("string").as("g"),
        coalesce(measureCol.cast("long"), lit(0L)).as("v"),
        opCol.cast("string").as("op"))
      .as[(String, Long, String)]
    rows.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (String, Long, Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (grp: String, rs: Iterator[(String, Long, String)],
            state: GroupState[(Long, Long, Long)]) =>
          val (seq, n0, s0) = state.getOption.getOrElse((0L, 0L, 0L))
          val (n, s) = rs.foldLeft((n0, s0)) { case ((cn, cs), (_, v, op)) =>
            val sgn = op match {
              case "I" => 1L
              case "D" => -1L
              case other => throw new IllegalArgumentException(
                s"rollupMaintainUpdates: op must be I or D, got $other")
            }
            (cn + sgn, cs + sgn * v)
          }
          if (n < 0) throw new IllegalStateException(
            s"rollupMaintainUpdates: group $grp count went negative — " +
              "retraction of a row the rollup never absorbed")
          state.update((seq + 1, n, s))
          Iterator((grp, seq + 1, n, s))
      }
      .toDF("key", "update_seq", "n", "sum_v")
  }

  /** The converged row per `key` of an update-mode sink written by one of
    * the `*Updates` folds above: each key's max-`update_seq` row, with the
    * other columns in frame order (`update_seq` itself dropped). */
  def converged(updates: DataFrame, key: String): DataFrame = {
    val rest = updates.columns.toSeq.filterNot(Set(key, "update_seq"))
    updates.groupBy(key)
      .agg(max(struct((col("update_seq") +: rest.map(col)): _*)).as("__f"))
      .select(col(key) +: rest.map(c => col(s"__f.$c").as(c)): _*)
  }

  /** Run a (bounded) streaming DataFrame to completion through a memory sink
    * and return the materialized result — the test/verify harness for the
    * operators above. The replay sizes itself from its own plan:
    *
    *  - '''State partitions''' ([[replayPartitions]]): one per 256 KB of the
    *    plan's file-source bytes, within `[1, spark.sql.shuffle.partitions]`.
    *  - '''The no-data micro-batch''' (the watermark-advance pass that exists
    *    only to EVICT buffered state) is skipped in append mode when it
    *    provably emits nothing ([[evictionEmitsNothing]]).
    *
    * Both confs are snapshotted into the query's own cloned session at
    * `start()`, so they are set on `spark` only for the set/start/restore
    * window. That window runs under `spark.synchronized`, so two replays on
    * one session cannot snapshot each other's values; other work on the
    * session during the window (a batch query, a stream started some other
    * way) can still see them. */
  def runToMemory(spark: SparkSession, df: DataFrame, name: String,
      outputMode: String = "complete"): DataFrame = {
    val plan = df.queryExecution.analyzed
    val overrides =
      Seq("spark.sql.shuffle.partitions" -> replayPartitions(spark, plan).toString) ++
        (if (outputMode.equalsIgnoreCase("append") && evictionEmitsNothing(plan))
           Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
         else Nil)
    val q = spark.synchronized {
      val saved = overrides.map { case (k, _) => k -> spark.conf.getOption(k) }
      overrides.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        df.writeStream
          .outputMode(outputMode)
          .format("memory")
          .queryName(name)
          .start()
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
    try q.processAllAvailable()
    finally q.stop()
    spark.table(name)
  }

  /** State-partition count for a BOUNDED replay of `plan`, derived from the
    * bytes under its file sources' paths (optimization guide §2: derive
    * partitioning from input size, never a constant tuned for one cluster).
    * Stateful-operator tasks carry a fixed per-partition price — open +
    * commit of each operator's state store instances — that swamps the row
    * work when partitions hold a few thousand rows (measured r19: the
    * stream-stream interval join's stateful stage ran 3.3 s at 32
    * near-empty state partitions vs 0.7 s at 8 on identical data). One
    * partition per 256 KB of source bytes rides that fixed cost at small
    * inputs and saturates to the session's `spark.sql.shuffle.partitions`
    * long before production scale. Sizes come from Hadoop's
    * `getContentSummary`, so nested (partitioned) directories, `file:` URIs
    * and non-local filesystems all count; a plan with no file source (e.g.
    * a MemoryStream) gets the session setting. */
  private def replayPartitions(
      spark: SparkSession, plan: LogicalPlan): Int = {
    val session = spark.sessionState.conf.numShufflePartitions
    val paths = plan.collect {
      case r: StreamingRelation => r.dataSource.options.get("path")
    }.flatten.distinct
    if (paths.isEmpty) session
    else {
      val hadoopConf = spark.sessionState.newHadoopConf()
      val bytes = paths.map { p =>
        val path = new Path(p)
        val fs = path.getFileSystem(hadoopConf)
        // the file source globs its path, so size what the glob matches
        Option(fs.globStatus(path)).toSeq.flatten
          .map(st => fs.getContentSummary(st.getPath).getLength).sum
      }.sum
      val perPartition = 256L << 10
      val n = (bytes + perPartition - 1) / perPartition
      math.max(1L, math.min(n, session.toLong)).toInt
    }
  }

  /** Whether the eviction-only no-data micro-batch of an append-mode replay
    * of `plan` is a provable no-op: every streaming node is stateless or an
    * inner stream-stream join. Inner joins emit every matched row during the
    * data batches, so for a bounded replay that stops right after, the
    * eviction pass emits zero rows and costs a full sweep of both sides'
    * state stores (measured r19: 2.7 s of an 8.5 s query). Aggregates,
    * deduplication, `*GroupsWithState` and outer joins emit final results
    * in exactly that pass, so any of them keeps it on. */
  private def evictionEmitsNothing(plan: LogicalPlan): Boolean =
    plan.find { n =>
      n.isStreaming && !(n match {
        case _: Project | _: Filter | _: Generate | _: SubqueryAlias |
            _: EventTimeWatermark | _: StreamingRelation => true
        case j: Join =>
          j.joinType == Inner && j.left.isStreaming && j.right.isStreaming
        case _ => false
      })
    }.isEmpty
}
