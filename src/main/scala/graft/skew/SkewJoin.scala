package graft.skew

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch

import graft.sketch.CmsOps

/** Fragment-replicate (Pig-style) skewed equi-join.
  *
  * Re-expression of the reference's flagship operator
  * (`src/main/scala/org/anish/spark/skew/dfimplicits.scala:31-125`):
  * a Count-Min Sketch per side estimates each key's frequency; hot keys on a
  * skewed side are *fragmented* (rows salted uniformly across
  * `replication(key)` fragments) while the other side's rows for that key are
  * *replicated* to every fragment, so the ordinary shuffle join parallelizes
  * the hot key across `replication(key)` reducers instead of one.
  *
  * Differences from the reference (deliberate correctness fixes, see
  * SURVEY.md §2.1 C1–C6):
  *
  *  - '''C1''' joins on the original `usingColumns` (plus salts), never on a
  *    concatenated key string, so `("ab","c")` can't collide with `("a","bc")`;
  *    the concatenated key feeds only the CMS.
  *  - '''C2''' outer joins run as ONE salted outer join: presence markers
  *    identify null-padded rows, and a replica-count window keeps exactly one
  *    padded row per genuinely-unmatched input row — the reference would emit
  *    one null-padded row *per replica* for unmatched rows under replication.
  *  - '''C3''' semi/anti joins get their own exact salted decomposition
  *    ([[saltedSemiAnti]]: fragment left, replicate the right side's
  *    DISTINCT key set to every fragment) — the reference passes them
  *    through the pairwise salting, which corrupts them; unknown join types
  *    are rejected.
  *  - '''C4''' salts come from `rand(seed)` columns instead of broadcast
  *    `java.util.Random` instances — no PRNG state serialization, plan stays
  *    declarative.
  *  - '''C5''' the replication formula is preserved verbatim:
  *    `max(min((freq × replicationFactor).toInt, cap), 1)` with
  *    `cap = spark.sql.shuffle.partitions` (`dfimplicits.scala:68,76,87`).
  *  - '''C6''' the sketch is queried per-row inside an executor-side function
  *    against the broadcast CMS — no driver-side hot-key list ever
  *    materializes, so the operator scales to arbitrarily many hot keys.
  *
  * 100-TB design notes: per-side CMS is a single partial+final aggregate over
  * only the key columns (column-pruned parquet scan); the broadcast payload is
  * KB-scale regardless of data size; fan-out is capped at the shuffle
  * parallelism; no collect() anywhere.
  */
object SkewJoin {

  private[graft] val SaltL = "__graft_salt_l"
  private[graft] val SaltR = "__graft_salt_r"
  // outer-join bookkeeping: per-input-row ids, presence markers, replica counts
  private val Lid = "__graft_lid"
  private val Rid = "__graft_rid"
  private val Lm = "__graft_lm"
  private val Rm = "__graft_rm"
  private val RepL = "__graft_rep_l"
  private val RepR = "__graft_rep_r"
  /** Unit separator between key parts fed to the CMS (avoids C1-style
    * concat ambiguity in frequency estimates too). */
  private[graft] val KeSep = ""

  /** THE canonical CMS key expression. Every sketch build and every probe --
    * batch skew joins, stream-static and stream-stream salting, the
    * refreshable hotness model -- must use this byte-identical construction:
    * a probe whose key expression differs from the build's in any way
    * (separator, cast, column order) silently reads the wrong counters.
    * The unbound form resolves against the frame it is applied to; the
    * df-qualified form disambiguates in self-joins. */
  private[graft] def cmsKey(usingColumns: Seq[String]): Column =
    concat_ws(KeSep, usingColumns.map(c => col(c).cast("string")): _*)

  private[graft] def cmsKey(df: DataFrame, usingColumns: Seq[String]): Column =
    concat_ws(KeSep, usingColumns.map(c => df.col(c).cast("string")): _*)

  implicit class SkewJoinOps(val left: DataFrame) extends AnyVal {

    /** Single-column sugar (reference `dfimplicits.scala:26-28`). */
    def skewJoin(right: DataFrame, usingColumn: String): DataFrame =
      skewJoin(right, Seq(usingColumn))

    /** Skew-aware equi-join on `usingColumns`; output row multiset and schema
      * equal `left.join(right, usingColumns, joinType)`.
      */
    def skewJoin(
        right: DataFrame,
        usingColumns: Seq[String],
        joinType: String = "inner",
        skewJoinConf: SkewJoinConf = SkewJoinConf()): DataFrame = {
      require(usingColumns.nonEmpty, "skewJoin requires at least one join column")
      normalize(joinType) match {
        case jt @ ("inner" | "left_outer" | "right_outer" | "full_outer") =>
          saltedJoin(left, right, usingColumns, skewJoinConf, jt)
        case jt @ ("left_semi" | "left_anti") =>
          // C3 upgraded: the pair-salting layout would corrupt semi/anti (the
          // reference passes them through it, dfimplicits.scala:116 — a left
          // fragment only saw right rows drawing the same salt), but the
          // key-set formulation below is exact. Left fragmentation needs a
          // LEFT sketch; under RightSkew there is nothing to fragment (the
          // right side collapses to distinct keys anyway) → plain join.
          if (skewJoinConf.skewType.left)
            saltedSemiAnti(left, right, usingColumns, skewJoinConf, jt)
          else left.join(right, usingColumns, jt)
        case other =>
          throw new IllegalArgumentException(
            s"skewJoin does not support joinType '$other' " +
              "(supported: inner, left/right/full outer, left_semi, left_anti)")
      }
    }
  }

  /** Typed variant — the reference's own unshipped TODO ("Add API for
    * Datasets", README.md:27, and the "use JoinWith instead" comment at
    * dfimplicits.scala:50): `joinWith`-shaped output over the same
    * fragment-replicate machinery. Inner and outer join types; outer slots
    * are null like `Dataset.joinWith`. */
  implicit class SkewJoinTypedOps[T](val left: Dataset[T]) {

    def skewJoinWith[U](
        right: Dataset[U],
        usingColumns: Seq[String],
        joinType: String = "inner",
        skewJoinConf: SkewJoinConf = SkewJoinConf())(
        implicit te: Encoder[T], ue: Encoder[U]): Dataset[(T, U)] = {
      val jt = normalize(joinType)
      require(jt == "inner" || jt.endsWith("_outer"),
        s"skewJoinWith supports inner/outer join types, got '$joinType'")
      val lCols = left.columns.toSeq
      val rCols = right.columns.toSeq
      // joinWith keeps both sides whole, so the right side's non-key columns
      // are prefixed to stay addressable; presence markers (true on every
      // input row, null only where the outer decomposition padded) identify
      // unmatched sides without relying on data columns being non-null
      val rKeyed = right.toDF(rCols.map("__graft_r_" + _): _*)
        .withColumn("__graft_r_present", lit(true))
      val rJoinable = usingColumns.foldLeft(rKeyed) { (df, c) =>
        df.withColumnRenamed("__graft_r_" + c, c)
      }
      val lDf = left.toDF().withColumn("__graft_l_present", lit(true))
      val joined = new SkewJoinOps(lDf)
        .skewJoin(rJoinable, usingColumns, jt, skewJoinConf)
      val leftStruct = struct(lCols.map(col): _*)
      val rightStruct = struct(rCols.map { c =>
        (if (usingColumns.contains(c)) col(c) else col("__graft_r_" + c)).as(c)
      }: _*)
      val lVal =
        if (jt == "right_outer" || jt == "full_outer")
          when(col("__graft_l_present").isNull, lit(null)).otherwise(leftStruct)
        else leftStruct
      val rVal =
        if (jt == "left_outer" || jt == "full_outer")
          when(col("__graft_r_present").isNull, lit(null)).otherwise(rightStruct)
        else rightStruct
      joined.select(lVal.as("_1"), rVal.as("_2"))
        .as[(T, U)](Encoders.tuple(te, ue))
    }
  }

  /** Per-key replication factor as an executor-side sketch probe (C5 formula
    * on a debiased estimate, C6 no driver key list). CMS estimates carry up
    * to eps·N additive collision noise; without debiasing, once rf·eps·N ≥ 1
    * *every* key looks hot and both sides explode by the cap — a uniform
    * fan-out catastrophe at scale (the reference formula has this
    * pathology). Subtracting the eps·N bound keeps est' ≤ true freq, so only
    * genuinely hot keys fragment and under-replication can never affect
    * correctness (any rep ≥ 1 is valid). */
  private def replicationUdf(
      bc: Broadcast[CountMinSketch], eps: Double, rf: Double, cap: Int) = {
    val bias = math.ceil(eps * bc.value.totalCount()).toLong
    udf { (k: String) =>
      if (k == null) 1
      else {
        val est = math.max(bc.value.estimateCount(k) - bias, 0L)
        math.max(math.min((est * rf).toInt, cap), 1)
      }
    }
  }

  /** THE sketch every skew path builds and probes: a CMS over
    * [[cmsKey]]`(df, usingColumns)` with `conf`'s (eps, delta, seed). One
    * aggregate job. */
  private[graft] def sketch(
      df: DataFrame, usingColumns: Seq[String], conf: SkewJoinConf): CountMinSketch =
    CmsOps.cmsOf(df, cmsKey(df, usingColumns), conf.CMSeps, conf.CMSdelta, conf.CMSseed)

  /** The empty sketch [[sketch]] would build over no rows (mergeable with it). */
  private[graft] def emptySketch(conf: SkewJoinConf): CountMinSketch =
    CountMinSketch.create(conf.CMSeps, 1.0 - conf.CMSdelta, conf.CMSseed)

  /** THE replication policy, shared by the batch joins, the stream-static
    * join and the refreshable hotness model: each row's fragment count from
    * `cms` (broadcast here, probed by [[replicationUdf]]), 1 when any key
    * column is null, fan-out capped at `conf.maxReplication` (default: the
    * session's shuffle partition count). */
  private[graft] def replicationCol(
      spark: SparkSession,
      cms: CountMinSketch,
      usingColumns: Seq[String],
      conf: SkewJoinConf): Column = {
    val cap = conf.maxReplication
      .getOrElse(spark.sessionState.conf.numShufflePartitions)
    val keyIsNull = usingColumns.map(col(_).isNull).reduce(_ || _)
    val bc = spark.sparkContext.broadcast(cms)
    when(keyIsNull, lit(1)).otherwise(
      replicationUdf(bc, conf.CMSeps, conf.replicationFactor, cap)(cmsKey(usingColumns)))
  }

  private def normalize(joinType: String): String =
    joinType.toLowerCase(java.util.Locale.ROOT).replace("_", "") match {
      case "inner"                       => "inner"
      case "left" | "leftouter"          => "left_outer"
      case "right" | "rightouter"        => "right_outer"
      case "full" | "fullouter" | "outer" => "full_outer"
      case "leftsemi" | "semi"           => "left_semi"
      case "leftanti" | "anti"           => "left_anti"
      case other                         => other
    }

  /** Salted semi/anti join — exact semantics under left-side skew.
    *
    * The pairwise salting layout cannot serve semi/anti (a left fragment
    * would only meet right rows that drew the same salt, producing false
    * anti positives), so these use a different decomposition:
    *
    *  1. the right side collapses to its DISTINCT key set — a map-side-
    *     combined aggregate, skew-safe by construction (a hot right key is
    *     deduplicated inside each map task before any shuffle);
    *  2. the left side fragments exactly like the inner path
    *     (`salt = uniform(0, rep(key))` from the broadcast CMS probe);
    *  3. each distinct key explodes to ALL `rep(key)` fragment ids, so a
    *     left row matches its fragment's replica iff the key exists at all —
    *     `left_semi`/`left_anti` on `(keys, salt)` is then exactly
    *     `left_semi`/`left_anti` on `keys`.
    *
    * Output multiplicity is untouched: semi/anti never duplicate the probe
    * side, and the exploded key set carries at most `rep(key)` ≤ cap rows
    * per distinct key. The hot key's left rows spread over `rep(key)`
    * reducers instead of funnelling through one.
    */
  private def saltedSemiAnti(
      left: DataFrame,
      right: DataFrame,
      usingColumns: Seq[String],
      conf: SkewJoinConf,
      joinType: String): DataFrame = {
    // fragmentation is driven by the LEFT side's key frequencies — the side
    // whose rows pile onto one reducer without it
    val rep = replicationCol(
      left.sparkSession, sketch(left, usingColumns, conf), usingColumns, conf)
    val ls = left
      .withColumn(RepL, rep)
      .withColumn(SaltL, floor(rand(conf.CMSseed.toLong) * col(RepL)).cast("int"))
      .drop(RepL)
    val rKeys = right.select(usingColumns.map(col): _*).distinct()
      .withColumn(RepL, rep)
      .withColumn(SaltL, explode(sequence(lit(0), col(RepL) - 1)))
      .drop(RepL)
    ls.join(rKeys, usingColumns :+ SaltL, joinType).drop(SaltL)
  }

  /** The fragment-replicate core: salted equi-join, all join types in ONE
    * pass over each input.
    *
    * Left rows get `SaltL = uniform(0, repL(key))` and are exploded over all
    * `repR(key)` right-fragment ids as `SaltR`; right rows mirror. Joining on
    * `usingColumns ++ (SaltL, SaltR)` pairs every left fragment with every
    * right replica exactly once (reference salting layout,
    * `dfimplicits.scala:110-116`).
    *
    * Outer semantics without re-scanning the inputs: the join itself runs as
    * the requested outer type; presence markers (`lit(true)` columns, null
    * only where the outer join padded) identify null-padded rows, and ONE
    * count-over-owner window keeps a padded row only when ALL of its
    * replicas went unmatched (a row of a matched key can still produce
    * padded replicas — a salt cell the other side happened not to draw).
    * The owner key is the padded row's input-row id, and a unique
    * (left-id, right-id) pair for matched rows, so every matched row sits in
    * its own singleton window partition and the count only gates padded
    * rows. A union-of-filtered-legs formulation was rejected: the optimizer
    * specializes each leg (outer-join elimination, per-leg null filters), the
    * legs' exchanges stop canonicalizing equal, and every leg re-scans both
    * inputs — the single window costs one uniform (never skewed) shuffle of
    * the join output instead, and each input is scanned exactly once.
    */
  private def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      usingColumns: Seq[String],
      conf: SkewJoinConf,
      joinType: String): DataFrame = {
    val spark = left.sparkSession
    def keyOf(df: DataFrame): Column = cmsKey(df, usingColumns)

    // Sketches for the gated side(s), broadcast (KB-to-MB scale). When both
    // sides are gated (CrossSkew) the two sketches come from ONE job — a
    // tagged union aggregated per side — so the scans run concurrently
    // instead of as two sequential jobs (the reference ran one job per side).
    val (cmsL, cmsR) =
      if (conf.skewType.left && conf.skewType.right) {
        val tagged = left.select(keyOf(left).as("__graft_k"), lit("l").as("__graft_side"))
          .union(right.select(keyOf(right).as("__graft_k"), lit("r").as("__graft_side")))
        val rows = tagged.groupBy("__graft_side")
          .agg(CmsOps.cmsAgg(col("__graft_k"),
            conf.CMSeps, conf.CMSdelta, conf.CMSseed).as("cms"))
          .collect()
        val bySide = rows.map(r =>
          r.getString(0) -> CmsOps.fromBytes(r.getAs[Array[Byte]](1))).toMap
        // a side absent from the union (empty input) gets an empty sketch
        def get(side: String) = bySide.getOrElse(side, emptySketch(conf))
        (Some(get("l")), Some(get("r")))
      } else (
        if (conf.skewType.left) Some(sketch(left, usingColumns, conf)) else None,
        if (conf.skewType.right) Some(sketch(right, usingColumns, conf)) else None)

    // repL = fragment count of the left side for this key; repR mirror. Both
    // sides must compute identical values per key (same sketch, same formula)
    // so fragment ids and replica ids range over the same domain.
    def rep(cms: Option[CountMinSketch]): Column =
      cms.map(replicationCol(spark, _, usingColumns, conf)).getOrElse(lit(1))
    val repL = rep(cmsL)
    val repR = rep(cmsR)

    val seed = conf.CMSseed.toLong
    val outer = joinType != "inner"

    // Outer joins carry per-input-row ids (shared by all replicas of a row),
    // presence markers, and the row's replica count, so padded rows can be
    // resolved in one pass after the join.
    val ls = {
      val base =
        if (outer)
          left.withColumn(Lid, monotonically_increasing_id()).withColumn(Lm, lit(true))
        else left
      val salted = base
        .withColumn(RepL, repL)
        .withColumn(RepR, repR)
        .withColumn(SaltL, floor(rand(seed) * col(RepL)).cast("int"))
        .withColumn(SaltR, explode(sequence(lit(0), col(RepR) - 1)))
      if (outer) salted.drop(RepL) else salted.drop(RepL, RepR)
    }
    val rs = {
      val base =
        if (outer)
          right.withColumn(Rid, monotonically_increasing_id()).withColumn(Rm, lit(true))
        else right
      val salted = base
        .withColumn(RepL, repL)
        .withColumn(RepR, repR)
        .withColumn(SaltR, floor(rand(seed + 1) * col(RepR)).cast("int"))
        .withColumn(SaltL, explode(sequence(lit(0), col(RepL) - 1)))
      if (outer) salted.drop(RepR) else salted.drop(RepL, RepR)
    }

    val joined = ls.join(rs, usingColumns ++ Seq(SaltL, SaltR), joinType)
    val helperCols = Seq(SaltL, SaltR, Lid, Rid, Lm, Rm, RepL, RepR)
    if (!outer) return joined.drop(helperCols: _*)

    // A padded row for key k appears once per replica whose salt cell the
    // other side left empty. Keep it only if EVERY replica went unmatched
    // (count over the row id == replica count), and then only the salt-0
    // copy. Matched rows get a unique (left-id, right-id) owner — singleton
    // partitions, count unused — so one window serves all cases.
    val isLeftNull = col(Rm).isNull   // left row present, right side padded
    val isRightNull = col(Lm).isNull  // right row present, left side padded
    // owner = (left row id or -1, right row id or -1): padded rows group with
    // their sibling replicas (the missing side's id is null → -1), matched
    // rows get a unique pair (ids are non-negative, so -1 never collides)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(coalesce(col(Lid), lit(-1L)), coalesce(col(Rid), lit(-1L)))
    joined
      .withColumn("__graft_miss", count(lit(1)).over(w))
      .filter(
        (!isLeftNull && !isRightNull) ||
          (isLeftNull && col("__graft_miss") === col(RepR) && col(SaltR) === 0) ||
          (isRightNull && col("__graft_miss") === col(RepL) && col(SaltL) === 0))
      .drop(helperCols :+ "__graft_miss": _*)
  }
}
