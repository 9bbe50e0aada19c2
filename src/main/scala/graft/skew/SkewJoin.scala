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
  *  - '''C2''' outer joins never copy a row of a side they preserve:
  *    `left_outer` fragments only the left side (the right side's rows are
  *    copied to every left fragment), `right_outer` mirrors it, so each
  *    preserved row meets all its matches in the one fragment it draws and
  *    is padded at most once. `full_outer` is a salted `left_outer` leg plus
  *    the right rows whose key is not on the left (an anti leg through
  *    [[saltedSemiAnti]]), padded with null left columns. Spark AQE's
  *    `OptimizeSkewedJoin` likewise splits only the preserved side of an
  *    outer join. The reference salts both sides of an outer join and emits
  *    one null-padded row *per replica* for unmatched rows.
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
  * 100-TB design notes: the sketches of every side a call fragments come from
  * one partial+final aggregate ([[sketches]]) over only the key columns
  * (column-pruned parquet scan); the broadcast payload is KB-scale regardless
  * of data size; fan-out is capped at the shuffle parallelism; no collect()
  * anywhere.
  */
object SkewJoin {

  private[graft] val SaltL = "__graft_salt_l"
  private[graft] val SaltR = "__graft_salt_r"
  // the typed and hinted joins carry each side whole in one struct column
  private[graft] val SlotL = "__graft_slot_l"
  private[graft] val SlotR = "__graft_slot_r"
  // per-row replication counts, dropped once the salts are drawn
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
      *
      * `full_outer` reads each input twice, so both reads must return the
      * same rows, as Spark's own stage retry assumes. An input whose analyzed
      * plan is not deterministic gets the plain full outer join instead.
      */
    def skewJoin(
        right: DataFrame,
        usingColumns: Seq[String],
        joinType: String = "inner",
        skewJoinConf: SkewJoinConf = SkewJoinConf()): DataFrame = {
      require(usingColumns.nonEmpty, "skewJoin requires at least one join column")
      normalize(joinType) match {
        case "full_outer" if !(left.queryExecution.analyzed.deterministic &&
            right.queryExecution.analyzed.deterministic) =>
          // the full_outer decomposition reads each input twice (saltedJoin)
          left.join(right, usingColumns, "full_outer")
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
            saltedSemiAnti(left, right, usingColumns, skewJoinConf.CMSseed, jt,
              Some(replication(Seq(left), usingColumns, skewJoinConf).head))
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
      // each side rides whole as one struct slot beside its keys: a matched
      // row's slot is a struct even when every field is null, and the outer
      // join pads a missing side's slot itself with null, as joinWith does
      def slotted(ds: Dataset[_], slot: String): DataFrame =
        ds.select(usingColumns.map(col) :+ struct(ds.columns.toSeq.map(col): _*).as(slot): _*)
      new SkewJoinOps(slotted(left, SlotL))
        .skewJoin(slotted(right, SlotR), usingColumns, jt, skewJoinConf)
        .select(col(SlotL).as("_1"), col(SlotR).as("_2"))
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

  /** THE sketch builder of every skew and streaming path: one CMS per
    * source over [[cmsKey]]`(source, usingColumns)` with `conf`'s (eps,
    * delta, seed), all from ONE aggregate job over the tagged union of the
    * sources' keys, each sketch counting only its own source's rows. The CMS
    * aggregate skips nulls, so an empty source gets the empty sketch; no
    * sources run no job. */
  private[graft] def sketches(
      sources: Seq[DataFrame], usingColumns: Seq[String], conf: SkewJoinConf): Seq[CountMinSketch] =
    if (sources.isEmpty) Nil
    else {
      val tagged = sources.zipWithIndex.map { case (df, i) =>
        df.select(cmsKey(df, usingColumns).as("__graft_k"), lit(i).as("__graft_src"))
      }.reduce(_ union _)
      val row = tagged.select(sources.indices.map(i => CmsOps.cmsAgg(
        when(col("__graft_src") === i, col("__graft_k")),
        conf.CMSeps, conf.CMSdelta, conf.CMSseed)): _*).head()
      sources.indices.map(i => CmsOps.fromBytes(row.getAs[Array[Byte]](i)))
    }

  /** Each source's replication column ([[replicationCol]] over its sketch
    * from [[sketches]]), in the order of `sources`. */
  private[graft] def replication(
      sources: Seq[DataFrame], usingColumns: Seq[String], conf: SkewJoinConf): Seq[Column] =
    sources.zip(sketches(sources, usingColumns, conf)).map { case (df, cms) =>
      replicationCol(df.sparkSession, cms, usingColumns, conf)
    }

  /** THE replication policy, shared by [[replication]] (the batch joins, the
    * stream-static and stream-stream joins) and the refreshable hotness
    * model ([[graft.streaming.RefreshableHotness]] and its orchestrator's
    * drift check): each row's fragment count from
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

  /** Salted semi/anti join, exact under left-side skew. The left side
    * fragments by `rep`, its own sketch's replication, and joins the right
    * side's DISTINCT key set copied to every fragment: a map-side-combined
    * aggregate, so a hot right key is deduplicated inside each map task
    * before any shuffle.
    * The pairwise salting layout cannot serve semi/anti (a left fragment
    * would only meet right rows that drew the same salt, producing false
    * anti positives); here a left row meets its key's copy iff the key
    * exists at all, so semi/anti on `(keys, salt)` is exactly semi/anti on
    * `keys`. The copies carry at most `rep(key)` ≤ cap rows per distinct
    * key, and the hot key's left rows spread over `rep(key)` reducers
    * instead of funnelling through one. Without `rep` the left side joins
    * the key set unsalted.
    */
  private def saltedSemiAnti(
      left: DataFrame,
      right: DataFrame,
      usingColumns: Seq[String],
      seed: Long,
      joinType: String,
      rep: Option[Column]): DataFrame =
    fragmentReplicate(left, right.select(usingColumns.map(col): _*).distinct(),
      usingColumns, rep, None, seed, joinType)

  /** Inner and outer joins. An inner join fragments every skewed side; an
    * outer join only a side it preserves (C2), and builds no sketch for a
    * side that stays whole.
    *
    * `full_outer` is the union of two legs: a salted `left_outer` leg, and
    * the right rows whose key is not on the left (the anti leg of
    * [[saltedSemiAnti]], fragmenting the right side by its own sketch),
    * padded with typed null left columns in the using-join order
    * `keys ++ left non-keys ++ right non-keys`. `RightSkew` mirrors the legs.
    * The trade: one more scan of the non-preserved input and a key-only scan
    * of the preserved one, against the window that shuffled the whole join
    * output to resolve padding (50× the input on a 50-rows-per-key right
    * side). The second read needs each input to return the same rows, so
    * [[SkewJoinOps.skewJoin]] routes nondeterministic inputs to the plain
    * join.
    */
  private def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      usingColumns: Seq[String],
      conf: SkewJoinConf,
      joinType: String): DataFrame = {
    val st = conf.skewType
    val needL = st.left && joinType != "right_outer"
    val needR = st.right && joinType != "left_outer"
    // the fragmenting sides' sketches come from one job (see [[sketches]])
    val reps = replication(Option.when(needL)(left).toSeq ++ Option.when(needR)(right),
      usingColumns, conf).iterator
    val repL = Option.when(needL)(reps.next())
    val repR = Option.when(needR)(reps.next())
    val seed = conf.CMSseed.toLong
    if (joinType != "full_outer")
      return fragmentReplicate(left, right, usingColumns, repL, repR, seed, joinType)

    val mirrored = st == RightSkew
    val (outerLeg, onlyLeg) =
      if (mirrored) (
        fragmentReplicate(left, right, usingColumns, None, repR, seed, "right_outer"),
        saltedSemiAnti(left, right, usingColumns, seed, "left_anti", repL))
      else (
        fragmentReplicate(left, right, usingColumns, repL, None, seed, "left_outer"),
        saltedSemiAnti(right, left, usingColumns, seed, "left_anti", repR))
    // onlyLeg holds one side's rows; the other side's columns are typed nulls
    val resolver = left.sparkSession.sessionState.conf.resolver
    def nonKeys(df: DataFrame, present: Boolean): Seq[Column] =
      df.schema.fields.toSeq
        .filterNot(f => usingColumns.exists(resolver(_, f.name)))
        .map(f => if (present) col(f.name) else lit(null).cast(f.dataType).as(f.name))
    outerLeg.union(onlyLeg.select(
      usingColumns.map(col) ++ nonKeys(left, mirrored) ++ nonKeys(right, !mirrored): _*))
  }

  /** The fragment-replicate join: [[saltLayout]], then the join on
    * `usingColumns ++ salts`, salts dropped. With no `rep` column this is
    * the plain join.
    *
    * Exact for every join type whose preserved sides (outer, semi, anti) are
    * never copied, i.e. have no `rep` on the other side: each preserved row
    * then meets all its matches in the one fragment it draws, so it is
    * padded, kept or dropped exactly once.
    */
  private[graft] def fragmentReplicate(
      left: DataFrame,
      right: DataFrame,
      usingColumns: Seq[String],
      repL: Option[Column],
      repR: Option[Column],
      seed: Long,
      joinType: String): DataFrame = {
    val (l, r, salts) = saltLayout(left, right, repL, repR, seed)
    l.join(r, usingColumns ++ salts, joinType).drop(salts: _*)
  }

  /** THE salt layout every skew join runs on (reference salting layout,
    * `dfimplicits.scala:110-116`). Each side with a `rep` column (a row's
    * fragment count for its key, from [[replication]] or a
    * [[graft.streaming.RefreshableHotness]] model) fragments: its rows draw
    * a salt uniformly from `[0, rep)`, and the other side's rows are copied
    * once per salt `0 until rep`, so joining on the keys plus the returned
    * salt columns pairs every fragment with exactly one copy. Both sides
    * evaluate the same `rep` column, so fragment ids and copy ids range over
    * the same domain. A side without `rep` gets no salt column; with neither
    * both frames come back with their plans untouched and there are no
    * salts.
    */
  private[graft] def saltLayout(
      left: DataFrame,
      right: DataFrame,
      repL: Option[Column],
      repR: Option[Column],
      seed: Long): (DataFrame, DataFrame, Seq[String]) = {
    // (replication column, salt column, fragment-id seed, rep) per fragmented side
    type Frag = (String, String, Long, Column)
    val fragL: Option[Frag] = repL.map((RepL, SaltL, seed, _))
    val fragR: Option[Frag] = repR.map((RepR, SaltR, seed + 1, _))
    val frags = fragL.toSeq ++ fragR
    // a side draws its own fragment id, then copies itself to every fragment
    // of the other side
    def salted(df: DataFrame, own: Option[Frag], other: Option[Frag]): DataFrame = {
      val withReps = frags.foldLeft(df) { case (d, (r, _, _, rep)) => d.withColumn(r, rep) }
      val drawn = own.fold(withReps) { case (r, s, sd, _) =>
        withReps.withColumn(s, floor(rand(sd) * col(r)).cast("int")) }
      other.fold(drawn) { case (r, s, _, _) =>
        drawn.withColumn(s, explode(sequence(lit(0), col(r) - 1))) }
        .drop(frags.map(_._1): _*)
    }
    (salted(left, fragL, fragR), salted(right, fragR, fragL), frags.map(_._2))
  }
}
