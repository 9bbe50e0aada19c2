package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup — semantic deduplication via within-cluster embedding cosine
  * (Abbas et al., 2023, arXiv:2303.09540): cluster the corpus embeddings
  * with a coarse quantizer, then inside each cluster treat any pair above a
  * cosine threshold as semantic duplicates and keep the member FARTHEST
  * from the cluster centroid (the paper's policy — outliers carry the
  * information; the near-centroid copy is the redundant one).
  *
  * North-star extension surface (SURVEY.md §2.4): exact all-pairs semantic
  * dedup is a cross join; clustering bounds the pairwise work to within-
  * cluster, which is the whole trick — identical in spirit to MinHash
  * banding, but in embedding space where paraphrases land near each other
  * with no shared n-grams.
  *
  * '''100-TB shape.''' Assignment is one narrow map (nClusters codegen'd
  * dot products per row against centroid literals — the validated
  * [[Similarity.ivfTopK]] arithmetic); the only shuffle keys by cluster id,
  * and the pairwise stage is a standard equi-join on that key, so AQE's
  * skew-join split handles an oversized cluster like any hot join key. The
  * cluster count is the knob: production sets nClusters ∝ corpus size to
  * hold expected cluster size flat (the paper runs 50k clusters for LAION),
  * and centroids come from [[KMeans]] — both are KB–MB-scale model
  * parameters, never a corpus-sized driver structure.
  *
  * Default centroids are the first `nClusters` corpus vectors by id (the
  * [[Similarity.ivfTopK]] seed convention), which makes the WHOLE operator
  * — assignment, pairing, drop policy — exactly replayable by a SQL oracle;
  * pass trained centroids for production recall.
  */
object SemDedup {

  /** (id, cluster, cent_cos, kept) for every input vector: cluster = argmax
    * centroid cosine (ties to the lowest centroid id), cent_cos = cosine to
    * the assigned centroid, kept = false iff some same-cluster partner with
    * pair-cosine ≥ `threshold` sits FARTHER from the centroid (smaller
    * cent_cos; ties broken toward the smaller id surviving). Pairwise
    * policy like [[Dedup.dropNearDuplicates]] — each duplicate PAIR drops
    * its nearer-to-centroid member, so of two exact copies exactly one
    * survives. */
  def semDedupFlags(
      df: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, threshold: Double,
      centroids: Option[Seq[(Long, Seq[Double])]] = None): DataFrame = {
    val cents = centroids.getOrElse(
      Similarity.seedCentroids(df, idCol, vecCol, nClusters))
    // the ivfTopK argmax: ties to the LOWEST centroid id
    val assigned = df
      .select(col(idCol).as("id"), col(vecCol).as("__v"),
        Similarity.l2Norm(col(vecCol)).as("__n"))
      .withColumn("__best",
        array_max(Similarity.centroidScoreStructs(cents)(col("__v"))))
      .select(col("id"), col("__v"), col("__n"),
        (-col("__best.ncid")).as("cluster"),
        col("__best.cos").as("cent_cos"))
    // within-cluster duplicate pairs; the equi-join on cluster is the ONLY
    // pairwise stage, and each pair names the member it drops — the one
    // NEARER the centroid (larger cent_cos; id breaks exact ties)
    val a = assigned.select(col("cluster"), col("id").as("id_a"),
      col("__v").as("va"), col("__n").as("na"), col("cent_cos").as("ca"))
    val b = assigned.select(col("cluster"), col("id").as("id_b"),
      col("__v").as("vb"), col("__n").as("nb"), col("cent_cos").as("cb"))
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(Similarity.cosineOfNorms(col("va"), col("vb"), col("na"), col("nb"))
        >= threshold)
      .select(when(struct(col("ca"), col("id_a")) > struct(col("cb"), col("id_b")),
        col("id_a")).otherwise(col("id_b")).as("id"))
      .distinct()
    assigned
      .join(dropped.withColumn("__dropped", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cluster"), col("cent_cos"),
        coalesce(!col("__dropped"), lit(true)).as("kept"))
  }

  /** The apply step: the corpus with each duplicate pair's nearer-to-
    * centroid member removed. Output keeps the input schema plus the
    * assigned `cluster`. */
  def semDedup(
      df: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, threshold: Double,
      centroids: Option[Seq[(Long, Seq[Double])]] = None): DataFrame = {
    val flags = semDedupFlags(df, idCol, vecCol, nClusters, threshold, centroids)
    df.join(
      flags.filter(col("kept")).select(col("id").as(idCol), col("cluster")),
      Seq(idCol))
  }
}
