package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination: flag training documents that share any
  * length-`n` token n-gram with an evaluation corpus (the standard
  * contamination check run before training on web-scale data).
  *
  * North-star extension surface (SURVEY.md §2.4); the reference is
  * join-machinery only. Scale design: the eval side of this check is a
  * benchmark suite — megabytes against a 100-TB training corpus — so its
  * distinct gram set is BROADCAST and the training side joins map-side with
  * no shuffle at all; the only exchange is the per-doc aggregation of
  * matched grams, which is post-filter (contaminated grams only, usually a
  * vanishing fraction) and map-side combined. Training-side grams are
  * generated inside codegen (`transform`/`slice` over the token array),
  * never materialized per doc beyond the explode.
  */
object Decontaminate {

  import TextStats.{normalizeText, tokens}

  /** Distinct token n-grams of EXACTLY length `n` (docs shorter than `n`
    * tokens yield none — unlike [[Dedup.wordNgrams]], which degrades to one
    * short gram). Same materialized-column caveat as
    * [[TextStats.tokenNgrams]]. */
  def tokenNgramsExact(toks: Column, n: Int): Column =
    array_distinct(TextStats.tokenNgrams(toks, n))

  /** (id, distinct n-grams) per document, normalized like the dedup/
    * fingerprint operators so contamination matching is robust to case and
    * punctuation drift between corpora. */
  private[graft] def gramSets(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"),
        tokens(normalizeText(col(textCol))).as("__toks"))
      .select(col("id"), tokenNgramsExact(col("__toks"), n).as("grams"))

  /** Pairwise cross-source n-gram overlap matrix — the corpus-health
    * diagnostic behind source-level contamination triage: how many distinct
    * token n-grams each pair of sources shares (mirrored scrapes, syndicated
    * content, and benchmark leakage between corpus slices all surface here
    * before any doc-level check runs).
    *
    * Scale shape: ONE shuffle — `collect_set(source)` keyed by gram, whose
    * partial aggregates dedup map-side to at most nSources values per gram
    * per task, so even a gram present in every document converges to a
    * bounded reduce row. Source pairs then expand from each gram's sorted
    * set inside codegen (no self-join, no second shuffle of the gram
    * table) into the final nSources²-bounded aggregate. */
  def crossSourceOverlap(
      df: DataFrame, textCol: String, sourceCol: String, n: Int = 3): DataFrame = {
    // two-step select like [[gramSets]]: the gram expression references the
    // token array several times, so inlining the tokenizer would re-split
    // the text once per gram position (measured 7× on this operator)
    val toked = df.select(col(sourceCol).as("source"),
      tokens(normalizeText(col(textCol))).as("__toks"))
    val grams = toked.select(col("source"),
      explode(tokenNgramsExact(col("__toks"), n)).as("gram"))
    val ss = col("ss")
    grams.groupBy("gram")
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .filter(size(ss) >= 2)
      .select(explode(flatten(transform(
        sequence(lit(0), size(ss) - 2),
        i => transform(sequence(i + 1, size(ss) - 1),
          j => struct(element_at(ss, i + 1).as("source_a"),
            element_at(ss, j + 1).as("source_b")))))).as("p"))
      .select(col("p.source_a"), col("p.source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Training documents contaminated by `eval`: one row per training doc
    * sharing at least one token `n`-gram with any eval document, with the
    * count of distinct shared grams. Output: (`trainIdCol`, n_overlap).
    *
    * The eval gram set is collected into a broadcast hash relation by the
    * join itself (an explicit `broadcast` hint — at benchmark scale it is
    * always the small side; Spark would need stats to know that).
    */
  def contaminatedDocs(
      train: DataFrame, trainIdCol: String, trainTextCol: String,
      eval: DataFrame, evalTextCol: String,
      n: Int = 8): DataFrame = {
    require(n >= 1, s"n-gram length must be >= 1, got $n")
    // explode_OUTER, not explode: a plain explode lets Catalyst infer a
    // `size(grams) > 0 AND isnotnull(grams)` filter which predicate pushdown
    // then rewrites in terms of the full gram pipeline — every row would
    // tokenize and build its n-gram array three times (measured 9× slower
    // warm at sf0.1: 25.8 s vs 2.8 s).
    // Outer generates get no inferred filter; the inner join on `gram`
    // drops the null rows an empty gram array produces.
    val trainGrams = gramSets(train, trainIdCol, trainTextCol, n)
      .select(col("id"), explode_outer(col("grams")).as("gram"))
    val evalGrams = gramSets(
        eval.withColumn("__graft_eid", lit(0L)), "__graft_eid", evalTextCol, n)
      .select(explode_outer(col("grams")).as("gram"))
      .distinct()
    trainGrams
      .join(broadcast(evalGrams), Seq("gram"))
      // grams are per-doc distinct already, so count == count distinct
      .groupBy(col("id").as(trainIdCol))
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** The apply step: training docs with every contaminated doc removed
    * (flag → act). The contaminated id set is tiny (it is the overlap with
    * a benchmark suite), so the anti-join broadcasts it; the training side
    * still never shuffles. */
  def dropContaminated(
      train: DataFrame, trainIdCol: String, trainTextCol: String,
      eval: DataFrame, evalTextCol: String,
      n: Int = 8): DataFrame = {
    val flagged = contaminatedDocs(
      train, trainIdCol, trainTextCol, eval, evalTextCol, n)
      .select(trainIdCol)
    train.join(broadcast(flagged), Seq(trainIdCol), "left_anti")
  }

  /** SEMANTIC decontamination: drop training examples whose EMBEDDING is
    * within `threshold` cosine of any evaluation example — the paraphrase
    * leak the n-gram check cannot see (a benchmark question rewritten in
    * different words shares no 8-gram but sits next to it in embedding
    * space; n-gram and embedding decontamination are complementary passes
    * over the same corpus).
    *
    * Scale shape mirrors [[contaminatedDocs]]: the eval side is a benchmark
    * suite — thousands of vectors against a 100-TB corpus — so it is
    * BROADCAST and the training side scans map-side with no shuffle; each
    * training vector pays |eval| codegen'd dot products
    * ([[Similarity.dot]]) exactly like the validated brute-force ANN scan.
    * The contaminated id set (the anti-join's build side) is bounded by the
    * corpus's overlap with the benchmark — vanishing in practice — and
    * broadcasts too. Deterministic, exactly SQL-replayable. */
  def dropSemanticContaminated(
      train: DataFrame, trainIdCol: String, trainVecCol: String,
      eval: DataFrame, evalVecCol: String,
      threshold: Double): DataFrame = {
    val ev = eval.select(col(evalVecCol).as("__ev"),
      Similarity.l2Norm(col(evalVecCol)).as("__en"))
    val tv = train.select(col(trainIdCol).as("__tid"), col(trainVecCol).as("__tv"),
      Similarity.l2Norm(col(trainVecCol)).as("__tn"))
    val flagged = tv.crossJoin(broadcast(ev))
      .filter(Similarity.cosineOfNorms(col("__tv"), col("__ev"),
        col("__tn"), col("__en")) >= threshold)
      .select(col("__tid").as(trainIdCol))
      .distinct()
    train.join(broadcast(flagged), Seq(trainIdCol), "left_anti")
  }
}
