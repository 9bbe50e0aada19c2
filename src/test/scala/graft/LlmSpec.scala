package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Dedup, Multimodal, Similarity, TextStats}
import graft.testkit.DatasetComparisons._

class LlmSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sf/documents.parquet")
  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("hashedLinearScore is an exact bucket-weight sum, partitioning-independent") {
    import spark.implicits._
    // two buckets with opposite unit weights: score = (#tokens in bucket 0
    // − #tokens in bucket 1) / 1.0 — verifiable by hand via the hash
    val w = Seq(1000000L, -1000000L)
    val df = Seq((1L, "alpha beta gamma"), (2L, ""), (3L, "alpha alpha")).toDF("id", "txt")
    val got = df.select(col("id"),
        TextStats.hashedLinearScore(col("txt"), w).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // reference: same md5-derived bucket per token, computed driver-side
    def bucket(t: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(md.take(15), 16) % 2).toInt
    }
    def ref(toks: Seq[String]): Double =
      toks.map(t => w(bucket(t))).sum / 1e6
    assert(got(1L) == ref(Seq("alpha", "beta", "gamma")))
    assert(got(2L) == 0.0)
    assert(got(3L) == ref(Seq("alpha", "alpha")))
    val repart = df.repartition(5).select(col("id"),
        TextStats.hashedLinearScore(col("txt"), w).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(repart == got)
  }

  test("dropDuplicateParagraphs keeps first occurrences and rebuilds docs in order") {
    import spark.implicits._
    // 4-token blocks for a readable fixture; doc 2 repeats doc 1's first
    // block then adds fresh content; doc 3 is ALL repeats and must vanish
    val b1 = "alpha beta gamma delta"
    val b2 = "epsilon zeta eta theta"
    val b3 = "iota kappa lambda mu"
    val df = Seq(
      (1L, s"$b1 $b2"),
      (2L, s"$b1 $b3"),
      (3L, s"$b2 $b1")
    ).toDF("doc_id", "text")
    val got = Dedup.dropDuplicateParagraphs(df, "doc_id", "text", blockTokens = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> s"$b1 $b2", 2L -> b3),
      s"got $got") // doc 3 disappears: both its blocks first appeared in docs 1/2
  }

  test("stripBoilerplateBlocks drops high-doc-frequency blocks everywhere") {
    import spark.implicits._
    // banner in 3/4 docs (75% > 60% cap) → stripped from ALL docs,
    // including its first occurrence; blocks a/b sit in 2/4 docs (50%,
    // under the cap) and stay in BOTH places — paragraph-dedup would have
    // kept only the first copy, the frequency semantics differ; doc 4 is
    // all boilerplate and vanishes
    val banner = "subscribe to our newsletter"
    val a = "alpha beta gamma delta"
    val b = "epsilon zeta eta theta"
    val df = Seq(
      (1L, s"$banner $a"),
      (2L, s"$banner $b"),
      (3L, s"$a $b"),
      (4L, banner)
    ).toDF("doc_id", "text")
    val got = Dedup.stripBoilerplateBlocks(
        df, "doc_id", "text", blockTokens = 4, maxDocFraction = 0.6)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> a, 2L -> b, 3L -> s"$a $b"), s"got $got")
    // at a 80% cap nothing is boilerplate: every doc survives verbatim
    val none = Dedup.stripBoilerplateBlocks(
        df, "doc_id", "text", blockTokens = 4, maxDocFraction = 0.8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(none(4L) == banner && none(1L) == s"$banner $a", s"got $none")
  }

  test("bpePairCounts counts adjacent char pairs weighted by word frequency") {
    import spark.implicits._
    // "aab" ×3 → pairs aa, ab each ×3; "ab" ×2 → ab ×2; single-char "a"
    // contributes nothing. Totals: ab=5, aa=3.
    val df = Seq((1L, "aab aab a ab"), (2L, "aab ab")).toDF("doc_id", "text")
    val got = graft.llm.Vocab.bpePairCounts(df, "text", k = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(got == Seq("ab" -> 5L, "aa" -> 3L), s"got $got")
  }

  test("dropDuplicateParagraphs is partitioning-independent and keeps unique corpora intact") {
    import spark.implicits._
    val df = (1L to 40L).map(i => (i, s"unique$i tokens here block$i content$i item$i"))
      .toDF("doc_id", "text")
    val a = Dedup.dropDuplicateParagraphs(df, "doc_id", "text")
    val b = Dedup.dropDuplicateParagraphs(df.repartition(13), "doc_id", "text")
    a.ensureDatasetEquals(b)
    // all blocks unique → the corpus survives verbatim (normalized text)
    assert(a.count() == 40)
  }

  test("minhash index probe finds cross-split near-dups exactly") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val df = Seq(
      (1L, base),                           // hist
      (2L, "completely different content about spark shuffles and joins"), // hist
      (5L, base + " tail"),                 // fresh near-dup of 1
      (10L, "nothing like anything else in this corpus at all whatsoever")) // fresh
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_mhidx_spec").toString
    try {
      Dedup.writeMinHashIndex(
        df.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", dir)
      val got = Dedup.probeMinHashIndex(
        df.filter(col("doc_id") % 5 === 0), "doc_id", "text", dir, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((5L, 1L)), s"got $got")
      // probing again without rebuilding reuses the persisted signatures
      val again = Dedup.probeMinHashIndex(
        df.filter(col("doc_id") % 5 === 0), "doc_id", "text", dir, threshold = 0.5)
        .count()
      assert(again == 1)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("minhash index manifest compares parsed fields, not raw strings") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again today"),
      (2L, "some other historical document about distributed systems"))
      .toDF("doc_id", "text")
    val fresh = Seq((5L, "the quick brown fox jumps over the lazy dog again today"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_mhmanifest_").toString
    try {
      Dedup.writeMinHashIndex(df, "doc_id", "text", dir)
      // reordered keys + whitespace are not semantics: rewrite the manifest
      // shuffled and padded (through the same Hadoop FS the operator uses,
      // so the checksum sidecar stays consistent); probe must still accept
      val hp = new org.apache.hadoop.fs.Path(dir, "params.json")
      val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
      def rewrite(s: String): Unit = {
        val out = fs.create(hp, true)
        try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      }
      rewrite("""{ "shingleSize" : 5,  "numHashes" : 32,
          |  "maxBucketSize" : 256, "bands" : 16 }""".stripMargin)
      assert(Dedup.probeMinHashIndex(fresh, "doc_id", "text", dir).count() >= 1)
      // a genuinely different parameter must be rejected, naming the field
      val err = intercept[IllegalArgumentException] {
        Dedup.probeMinHashIndex(fresh, "doc_id", "text", dir, numHashes = 64)
      }
      assert(err.getMessage.contains("numHashes"), err.getMessage)
      // an absent field is a mismatch too (manifest from a foreign tool)
      rewrite("""{"numHashes":32,"bands":16}""")
      val err2 = intercept[IllegalArgumentException] {
        Dedup.probeMinHashIndex(fresh, "doc_id", "text", dir)
      }
      assert(err2.getMessage.contains("shingleSize"), err2.getMessage)
      // and so is an EXTRA field: a foreign writer recording another
      // band-space-affecting parameter must fail loudly, not silently
      // probe a different key space
      rewrite("""{"numHashes":32,"bands":16,"shingleSize":5,
        |"maxBucketSize":256,"normalization":2}""".stripMargin)
      val err3 = intercept[IllegalArgumentException] {
        Dedup.probeMinHashIndex(fresh, "doc_id", "text", dir)
      }
      assert(err3.getMessage.contains("normalization"), err3.getMessage)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("crossSourceOverlap counts distinct shared n-grams per source pair") {
    import spark.implicits._
    import graft.llm.Decontaminate
    // A∩B = {"a b c"}; the within-A duplicate gram counts once; C shares
    // nothing, so its pairs are absent rather than zero-rows
    val df = Seq(
      (1L, "a b c d", "srcA"),
      (2L, "a b c", "srcA"),
      (3L, "a b c x", "srcB"),
      (4L, "z z z", "srcC")
    ).toDF("doc_id", "text", "source")
    val got = Decontaminate.crossSourceOverlap(df, "text", "source", n = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(("srcA", "srcB", 1L)), s"got $got")
  }

  test("bigramLmScore: quantized conditional probabilities, unseen = 0") {
    import spark.implicits._
    import graft.llm.TextStats
    // ref "a b a c": c(a b)=c(b a)=c(a c)=1; prefix a·=2, b·=1 →
    // q(a b)=q(a c)=500000, q(b a)=1000000
    val ref = Seq((100L, "a b a c")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a b a"),  // bigrams "a b","b a" → sum 1500000, n=2, score 0.75
      (2L, "z z"),    // unseen bigram → sum 0, n=1, score 0.0
      (3L, "a")       // no bigrams → absent
    ).toDF("doc_id", "text")
    val got = TextStats.bigramLmScore(docs, "doc_id", "text", ref, "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == Map(
      1L -> ((2L, 1500000L, 0.75)),
      2L -> ((1L, 0L, 0.0))), s"got $got")
  }

  test("dropKnownDuplicates drops exactly the fingerprint-known fresh docs") {
    import spark.implicits._
    // normalization equates "Seen, Before!" with "seen before"
    val hist = Seq(1L -> "Seen, Before!").toDF("doc_id", "text")
    val fresh = Seq(10L -> "seen before", 11L -> "brand new content")
      .toDF("doc_id", "text")
    val out = Dedup.dropKnownDuplicates(fresh, hist, "text")
    assert(out.columns.toSeq == Seq("doc_id", "text"))
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(11L))
  }

  test("chunkDocuments: overlap, short tails, and empty docs behave exactly") {
    import spark.implicits._
    import graft.llm.Chunker
    val doc = (1 to 10).map(i => s"w$i").mkString(" ")
    val df = Seq(1L -> doc, 2L -> "tiny doc", 3L -> "").toDF("doc_id", "text")
    val out = Chunker.chunkDocuments(df, "doc_id", "text",
        chunkTokens = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getString(3))).toMap
    // doc 1: 10 tokens, step 3, starts 1,4,7 (<= 10-1) → chunks of 4,4,4
    assert(out((1L, 0L)) == ((4L, "w1 w2 w3 w4")), s"got ${out((1L, 0L))}")
    assert(out((1L, 1L)) == ((4L, "w4 w5 w6 w7")))
    assert(out((1L, 2L)) == ((4L, "w7 w8 w9 w10")))
    assert(!out.contains((1L, 3L)))
    // doc 2: 2 tokens → one short chunk; doc 3: empty → one empty chunk
    assert(out((2L, 0L)) == ((2L, "tiny doc")))
    assert(out((3L, 0L)) == ((0L, "")))
  }

  test("repetitionFeatures counts positional grams and the duplicate fraction") {
    import spark.implicits._
    val df = Seq(
      1L -> "a b c a b c a b",   // 3-grams: abc bca cab abc bca cab → 6 total, 3 distinct
      2L -> "all words unique in here now",
      3L -> "too short"
    ).toDF("doc_id", "text")
    val out = TextStats.repetitionFeatures(df, "text")
      .select("doc_id", "n_grams", "n_distinct_grams", "dup_gram_ratio")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out(1L) == ((6L, 3L, 0.5)), s"got ${out(1L)}")
    assert(out(2L) == ((4L, 4L, 0.0)), s"got ${out(2L)}")
    assert(out(3L) == ((0L, 0L, 0.0)), s"got ${out(3L)}")
  }

  test("gopherFlags: each rule fires independently and keep is the conjunction") {
    import spark.implicits._
    val good = (Seq("the", "data") ++ Seq.fill(28)("word")).mkString(" ") // 30 toks, has 'the'
    val df = Seq(
      1L -> good,                               // passes all rules
      2L -> "the short doc",                    // too few tokens
      3L -> (Seq.fill(30)("supercalifragilistic").mkString(" ") + " the"), // avg len high
      4L -> Seq.fill(40)("word").mkString(" ")  // no stopword
    ).toDF("doc_id", "text")
    val out = TextStats.gopherFlags(df, "text")
      .select("doc_id", "tokens_ok", "avg_len_ok", "has_stopword", "keep")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4))).toMap
    assert(out(1L) == ((true, true, true, true)), s"got ${out(1L)}")
    assert(out(2L)._1 == false && out(2L)._4 == false)
    assert(out(3L)._2 == false && out(3L)._4 == false)
    assert(out(4L) == ((true, true, false, false)), s"got ${out(4L)}")
  }

  test("exactDedup keeps exactly one deterministic representative per key") {
    import spark.implicits._
    val df = Seq((3L, "a"), (1L, "a"), (2L, "b"), (5L, "b"), (4L, "c"))
      .toDF("id", "k")
    val out = Dedup.exactDedup(df, Seq("k"), "id").orderBy("k")
      .collect().map(r => (r.getString(1), r.getLong(0)))
    assert(out.toSeq == Seq(("a", 1L), ("b", 2L), ("c", 4L)))
  }

  test("transitive dedup keeps one representative per duplicate CHAIN") {
    import spark.implicits._
    // a→b→c near-dup chain where a and c are NOT near-dups of each other:
    // the pairwise policy may drop both b and c; the transitive policy must
    // keep exactly the chain minimum plus the unrelated doc
    val base = "the quick brown fox jumps over the lazy dog and then runs far away home tonight"
    val df = Seq(
      1L -> base,
      2L -> (base + " one extra clause appended here to drift the shingles a bit"),
      3L -> (base + " one extra clause appended here to drift the shingles a bit" +
        " then later quietly zebras migrate beyond frozen volcanic plateaus during winter solstice"),
      9L -> "completely unrelated text about distributed query engines and shuffle exchanges everywhere"
    ).toDF("doc_id", "text")
    val kept = Dedup.dropNearDuplicatesTransitive(df, "doc_id", "text", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val pairs = Dedup.minHashDedupPairs(df, "doc_id", "text", numHashes = 32,
      bands = 16, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // sanity: the chain is a chain (1-2, 2-3 similar; 1-3 not, 9 isolated)
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 3L)), s"pairs=$pairs")
    assert(!pairs.contains((1L, 3L)) && !pairs.exists(p => p._1 == 9L || p._2 == 9L),
      s"pairs=$pairs")
    assert(kept == Set(1L, 9L), s"kept=$kept")
  }

  test("minhash LSH finds identical and near-identical docs, not unrelated ones") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq(
      (1L, base),
      (2L, base),                             // identical
      (3L, base + " with a tiny suffix"),     // near-dup
      (4L, "completely different content about spark shuffles and joins"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minHashDedupPairs(df, "doc_id", "text",
      numHashes = 32, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash of identical docs is equal; hamming pairs found") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val sigs = Dedup.simHash(df, "doc_id", "text").collect()
    assert(sigs.map(_.getLong(1)).distinct.length == 1)
    val pairs = Dedup.simHashDedupPairs(df, "doc_id", "text")
    assert(pairs.count() == 1)
    assert(pairs.head().getInt(2) == 0)
  }

  test("jaccard expression matches hand-computed value") {
    import spark.implicits._
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val j = df.select(Dedup.jaccard(col("x"), col("y"))).head().getDouble(0)
    assert(j == 0.5) // |{b,c}| / |{a,b,c,d}|
  }

  test("VectorDot matches the HOF dot bit-for-bit on real embeddings") {
    val pairs = emb.limit(50).crossJoin(
      emb.limit(50).select(col("embedding").as("e2")))
    val diff = pairs.select(
      (Similarity.dot(col("embedding"), col("e2")) -
        Similarity.dotHof(col("embedding"), col("e2"))).as("d"))
      .agg(max(abs(col("d")))).head().getDouble(0)
    assert(diff == 0.0, s"custom expression diverged from HOF by $diff")
  }

  test("custom expressions are callable from SQL after registration") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT sorted_jaccard(array('a','b'), array('b','c')) AS j,
        |       sorted_intersect(array('a','b'), array('b','c')) AS i,
        |       vector_dot(array(1.0, 2.0), array(3.0, 4.0)) AS d,
        |       nfc_normalize('café') AS n,
        |       char_hist_stats('aabbb') AS h""".stripMargin)
      .head()
    assert(math.abs(r.getDouble(0) - 1.0 / 3.0) < 1e-15)
    assert(r.getInt(1) == 1)
    assert(r.getDouble(2) == 11.0)
    assert(r.getString(3) == "café")
    assert(r.getSeq[Long](4) == Seq(5L, 2L, 8L))
    val mc = spark.sql(
      "SELECT multi_contains('abc', array('ab', 'zz', 'bc')) AS m").head()
    assert(mc.getSeq[Int](0) == Seq(0, 2))
    val gm = spark.sql(
      """SELECT explode(gram_matrix(v, 2)) AS e FROM
        |  (SELECT array(1.0D, 2.0D) AS v)""".stripMargin)
      .select("e.i", "e.j", "e.qsum")
      .collect().map(r2 => (r2.getInt(0), r2.getInt(1), r2.getLong(2))).toList
    def q24(x: Double) = math.floor(x * 16777216.0).toLong
    assert(gm == List((1, 1, q24(1.0)), (1, 2, q24(2.0)), (2, 2, q24(4.0))))
    // a buffer-sizing parameter must be an INT literal: a column fails
    // naming the function and the parameter
    Seq("kmv_kmins(h, h)" -> "kmv_kmins: k", "gram_matrix(v, h)" -> "gram_matrix: dim",
        "top_k(h, h)" -> "top_k: k").foreach { case (call, arg) =>
      val e = intercept[Exception] {
        spark.sql(s"SELECT $call FROM (SELECT 2 AS h, array(1.0D) AS v)").collect()
      }
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toList
      assert(msgs.exists(_.contains(s"$arg must be an INT literal")), msgs.mkString(" | "))
    }
    // the set-overlap kernel takes two string or two bigint sets, nothing else
    Seq("array('a')" -> "array(1L)", "array(1)" -> "array(2)").foreach { case (a, b) =>
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT sorted_jaccard($a, $b) AS j").collect()
      }
      assert(e.getMessage.contains("sorted_jaccard requires"), e.getMessage)
    }
  }

  test("kmv_kmins aggregate is callable from SQL and k must be a literal") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    Seq(5L, 3L, 9L, 3L, 1L, 7L).toDF("h").createOrReplaceTempView("t_kmv_sql")
    val r = spark.sql("SELECT kmv_kmins(h, 3) AS km FROM t_kmv_sql").head()
    assert(r.getSeq[Long](0) == Seq(1L, 3L, 5L), "k smallest distinct, sorted")
    // a non-literal k must fail analysis (it sizes the aggregation buffer)
    intercept[Exception] {
      spark.sql("SELECT kmv_kmins(h, h) FROM t_kmv_sql").collect()
    }
  }

  test("r15: SQL forms of the dedup primitives plan identically to the Column API") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq("the quick brown fox", "", "aaaaa aaaaa").toDF("text")
    df.createOrReplaceTempView("t_sqlsig")
    val sqlForm = spark.sql(
      """SELECT min_hash_sig(char_shingle_set(text, 5), 8) AS sig,
        |       winnow_fps(text, 5, 4) AS fp
        |FROM t_sqlsig""".stripMargin)
    val colForm = df.select(
      graft.functions.MinHashSig.minHashSig(
        graft.functions.CharShingleSet.charShingleSet(col("text"), 5), 8)
        .as("sig"),
      graft.functions.WinnowFingerprints.winnowFingerprints(col("text"), 5, 4)
        .as("fp"))
    // same canonicalized optimized plan => the SQL surface is the SAME
    // operator, not a lookalike (the VERDICT task-7 contract)
    assert(sqlForm.queryExecution.optimizedPlan.canonicalized ==
      colForm.queryExecution.optimizedPlan.canonicalized)
    assert(sqlForm.collect().map(_.toString).toSeq ==
      colForm.collect().map(_.toString).toSeq)
    // shape parameters must be literals (they size codegen, not row data)
    intercept[Exception] {
      spark.sql("SELECT min_hash_sig(array('a'), length(text)) FROM t_sqlsig")
        .collect()
    }
  }

  test("cosineSim is 1 for identical, 0 for orthogonal vectors") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)))
      .toDF("a", "b", "c")
    val r = df.select(
      Similarity.cosineSim(col("a"), col("b")),
      Similarity.cosineSim(col("a"), col("c"))).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("lshTopK finds exact-duplicate vectors (identical vector ⇒ same bucket in every table)") {
    import spark.implicits._
    // corpus = real embeddings plus a clone of each query vector at id+10000
    val clones = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"), col("label"))
    val corpus = emb.unionByName(clones)
    val q = emb.filter(col("vec_id") < 5)
    val lsh = Similarity.lshTopK(q, "vec_id", "embedding",
      corpus, "vec_id", "embedding", k = 3)
    val top1 = lsh.filter(col("rank") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    (0L until 5L).foreach { qid =>
      assert(top1.get(qid).contains(qid + 10000),
        s"query $qid: expected clone ${qid + 10000} as top-1, got ${top1.get(qid)}")
    }
    lsh.collect().foreach { r =>
      assert(r.getInt(3) >= 1 && r.getInt(3) <= 3)
      assert(r.getLong(0) != r.getLong(1))
    }
  }

  test("ngram LSH prefilter engages and pairs match exact Jaccard verification") {
    import spark.implicits._
    val base = "one two three four five six seven eight nine ten eleven twelve"
    val df = Seq(
      (1L, base),
      (2L, base),                                  // identical (j = 1)
      (3L, base + " thirteen fourteen"),           // near-dup (high j)
      (4L, "unrelated words entirely different content no overlap at all"))
      .toDF("doc_id", "text")
    // default 32/16 parameterization: 2-row bands make minAgree collapse to
    // rows-per-band, so the prefilter correctly stays OUT of the plan (it
    // would filter nothing candidates don't already guarantee)
    val q = Dedup.ngramJaccardPairs(df, "doc_id", "text", n = 3, threshold = 0.3)
    assert(!q.queryExecution.analyzed.toString.contains("__agree"),
      "prefilter must not be planned when minAgree == rowsPerBand")
    val pairs = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    // 3-row bands (48/16): minAgree 4 > 3 — the signature-agreement
    // prefilter must appear in the plan (it filters on the __agree count)
    // and must not change which true pairs survive
    val q48 = Dedup.ngramJaccardPairs(df, "doc_id", "text", n = 3,
      threshold = 0.3, numHashes = 48, bands = 16)
    val planStr = q48.queryExecution.analyzed.toString
    assert(planStr.contains("__agree"),
      s"signature prefilter branch not planned at 48/16:\n$planStr")
    val pairs48 = q48.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs48.contains((1L, 2L)) && pairs48.contains((1L, 3L)) && pairs48.contains((2L, 3L)))
  }

  test("winnowing guarantee: docs sharing a long substring are found regardless of edit position") {
    import spark.implicits._
    // the stripe-partitioned variant this replaced failed exactly this
    // case: a LEADING insertion shifts every downstream gram position
    val core = "the quick brown fox jumps over the lazy dog while the band plays on"
    val df = Seq(
      (1L, core),
      (2L, "completely unrelated preamble first " + core), // shifted copy
      (3L, "nothing in common with either of the others whatsoever here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowDedupPairs(df, "doc_id", "text", threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"shifted near-dup not found: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("embedding dedup: LSH path ≡ exact path on clustered vectors, no all-pairs join") {
    import spark.implicits._
    // 20 clusters of 5 near-identical vectors (within-cluster cosine ≈ 0.999,
    // cross-cluster ≈ orthogonal): the regime the LSH path is built for
    val dim = 64
    val rnd = new scala.util.Random(7)
    val bases = (0 until 20).map(_ => Array.fill(dim)(rnd.nextGaussian().toFloat))
    val rows = for {
      (b, c) <- bases.zipWithIndex
      m <- 0 until 5
    } yield ((c * 100 + m).toLong, b.map(x => x + 0.02f * rnd.nextGaussian().toFloat).toSeq)
    val df = rows.toDF("vec_id", "embedding")
    val exact = Dedup.embeddingDedupPairsExact(df, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshDf = Dedup.embeddingDedupPairs(df, "vec_id", "embedding", 0.9,
      broadcastLimit = 0, dim = dim)
    val lsh = lshDf.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty && lsh == exact,
      s"LSH pairs diverged: missing=${exact -- lsh}, extra=${lsh -- exact}")
    val plan = lshDf.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"LSH path planned an all-pairs join:\n$plan")
  }

  test("langId is deterministic and falls in the expected label set") {
    val preds = docs.select(TextStats.langId(col("text")).as("p"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(preds.subsetOf(Set("en", "fr", "es", "de", "zh", "und")))
  }

  test("quality features: counts match a hand-checked sample") {
    import spark.implicits._
    val df = Seq((1L, "The cat, the hat!")).toDF("id", "text")
    val r = TextStats.qualityFeatures(df, "text").head()
    assert(r.getAs[Long]("n_chars") == 17L)
    assert(r.getAs[Long]("n_tokens") == 4L)
    assert(r.getAs[Long]("n_punct") == 2L)  // , and !
    assert(r.getAs[Long]("n_stopwords") == 2L) // 'the' twice (lowercased)
  }

  test("multimodal pipeline: deterministic stub features, stable across repartition") {
    val out1 = Multimodal.documentMediaFeatures(spark, docs)
    val out2 = Multimodal.documentMediaFeatures(spark, docs.repartition(7))
    val a = out1.select("media_id", "checksum").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = out2.select("media_id", "checksum").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a == b)
    val f = out1.filter(col("media_id") === 0).head()
    assert(f.getAs[scala.collection.Seq[Float]]("feature").length == 8)
    assert(f.getAs[Long]("n_bytes") > 0)
  }

  test("zip container walk: REAL central-directory members round-trip the text formula") {
    import spark.implicits._
    val ids = spark.range(0, 40).as[Long]
    val records = ids.map(id => Multimodal.ZipRecord(id, Multimodal.synthesizeZip(id)))
    // genuine ZIP local-file-header magic, not a fake container
    val magic = records.head().content.take(4).toSeq
    assert(magic == Seq[Byte]('P', 'K', 3, 4))
    val got = Multimodal.decodeZipStats(records).collect()
      .map(s => (s.media_id, s.member_name) -> ((s.n_bytes, s.byte_sum))).toMap
    // driver-side reference straight from archiveText's formula
    def ref(tid: Long): (Long, Long) = {
      val text = (0 until (20 + (tid % 17).toInt))
        .map(j => "w" + ((tid * 7 + j) % 23)).mkString(" ")
      val bytes = text.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      (bytes.length.toLong, bytes.map(_ & 0xFF).map(_.toLong).sum)
    }
    var expected = 0
    (0L until 40L).foreach { id =>
      (0 until (2 + (id % 3).toInt)).foreach { m =>
        expected += 1
        assert(got((id, s"m$m.txt")) == ref(id * 5 + m),
          s"member m$m.txt of archive $id diverges")
      }
    }
    assert(got.size == expected) // no phantom or missing members
  }

  test("image decode: REAL ImageIO pixels round-trip the generating formula") {
    import spark.implicits._
    // driver-side reference from the synthesis formula — no image code
    def reference(id: Long): (Long, Long, Long, Long, Long) = {
      val w = 8 + (id % 8); val h = 8 + (id % 5)
      var rs = 0L; var gs = 0L; var bs = 0L
      for (y <- 0L until h; x <- 0L until w) {
        val base = id * 31 + x * 7 + y * 13
        rs += base % 256; gs += (base + 101) % 256; bs += (base + 202) % 256
      }
      (w, h, rs, gs, bs)
    }
    val ids = spark.range(0, 60).as[Long]
    val records = ids.map(id => Multimodal.ImageRecord(id, Multimodal.synthesizePng(id)))
    // the payloads are genuine PNG files, not a fake container
    val magic = records.head().content.take(8).toSeq
    assert(magic == Seq[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n'))
    val got = Multimodal.decodeImageStats(records).collect()
      .map(s => s.media_id -> ((s.width, s.height, s.r_sum, s.g_sum, s.b_sum))).toMap
    assert(got.size == 60)
    (0L until 60L).foreach { id =>
      assert(got(id) == reference(id), s"decoded stats diverge for id=$id")
    }
    // repartitioning must not change a narrow deterministic pipeline
    val got7 = Multimodal.decodeImageStats(records.repartition(7)).collect()
      .map(s => s.media_id -> ((s.width, s.height, s.r_sum, s.g_sum, s.b_sum))).toMap
    assert(got7 == got)
  }

  test("lexicalRichness: exact type/token/hapax counts and ppm ratios") {
    import spark.implicits._
    val docs = Seq(
      // src a: tokens = [the, cat, the, dog] → 4 tokens, 3 types,
      // hapax {cat, dog} = 2; ttr = 750000, hapax = 666666
      (1L, "The cat; the DOG!", "a"),
      // src b over two docs: [x x x], [y] → 4 tokens, 2 types, hapax {y}
      (2L, "x x x", "b"), (3L, "y", "b"),
      // punctuation-only doc contributes no tokens (src b unchanged)
      (4L, "?!...", "b")
    ).toDF("doc_id", "text", "source")
    val got = TextStats.lexicalRichness(docs, "source", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got("a") == ((4L, 3L, 2L, 750000L, 666666L)))
    assert(got("b") == ((4L, 2L, 1L, 500000L, 500000L)))
  }

  test("bmp decode: REAL JDK DIB reader round-trips its own generating formula") {
    import spark.implicits._
    def reference(id: Long): (Long, Long, Long, Long, Long) = {
      val w = 8 + (id % 5); val h = 8 + (id % 9)
      var rs = 0L; var gs = 0L; var bs = 0L
      for (y <- 0L until h; x <- 0L until w) {
        val base = id * 41 + x * 13 + y * 19
        rs += base % 256; gs += (base + 89) % 256; bs += (base + 181) % 256
      }
      (w, h, rs, gs, bs)
    }
    val ids = spark.range(0, 60).as[Long]
    val records = ids.map(id => Multimodal.ImageRecord(id, Multimodal.synthesizeBmp(id)))
    // genuine BMP container: "BM" magic
    val magic = records.head().content.take(2).toSeq
    assert(magic == Seq[Byte]('B', 'M'), s"not a BMP header: $magic")
    val got = Multimodal.decodeImageStats(records).collect()
      .map(s => s.media_id -> ((s.width, s.height, s.r_sum, s.g_sum, s.b_sum))).toMap
    assert(got.size == 60)
    (0L until 60L).foreach { id =>
      assert(got(id) == reference(id), s"decoded BMP stats diverge for id=$id")
    }
  }

  test("tiff decode: REAL JDK TIFF plugin round-trips its own generating formula") {
    import spark.implicits._
    def reference(id: Long): (Long, Long, Long, Long, Long) = {
      val w = 8 + (id % 7); val h = 8 + (id % 6)
      var rs = 0L; var gs = 0L; var bs = 0L
      for (y <- 0L until h; x <- 0L until w) {
        val base = id * 37 + x * 11 + y * 17
        rs += base % 256; gs += (base + 97) % 256; bs += (base + 193) % 256
      }
      (w, h, rs, gs, bs)
    }
    val ids = spark.range(0, 60).as[Long]
    val records = ids.map(id => Multimodal.ImageRecord(id, Multimodal.synthesizeTiff(id)))
    // genuine TIFF containers: little-endian "II*\0" or big-endian "MM\0*"
    val magic = records.head().content.take(4).toSeq
    assert(magic == Seq[Byte]('I', 'I', 42, 0) || magic == Seq[Byte]('M', 'M', 0, 42),
      s"not a TIFF header: $magic")
    val got = Multimodal.decodeImageStats(records).collect()
      .map(s => s.media_id -> ((s.width, s.height, s.r_sum, s.g_sum, s.b_sum))).toMap
    assert(got.size == 60)
    (0L until 60L).foreach { id =>
      assert(got(id) == reference(id), s"decoded TIFF stats diverge for id=$id")
    }
  }

  test("stripHtml: blocks die with content, tags die, entities decode, amp last") {
    import spark.implicits._
    val cases = Seq(
      1L -> "<p>plain</p>",
      2L -> "<script>var a = 1 < 2;</script>visible",          // block CONTENT must not leak
      3L -> "<STYLE media=\"x\">b{}</STYLE>kept",              // case-insensitive, attrs
      4L -> "a&amp;b &lt;x&gt; &quot;q&quot; &#39;s&#39;&nbsp;t",
      5L -> "&amp;lt;",                                        // amp LAST: stays literal &lt;
      6L -> "<div\nclass='m'>multi\nline</div>",               // tag spanning lines
      7L -> "  lots   of\t\nspace  ")
    val got = cases.toDF("id", "h")
      .select(col("id"), TextStats.stripHtml(col("h")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "plain")
    assert(got(2L) == "visible")
    assert(got(3L) == "kept")
    assert(got(4L) == "a&b <x> \"q\" 's' t")
    assert(got(5L) == "&lt;")
    assert(got(6L) == "multi line")
    assert(got(7L) == "lots of space")
  }

  test("tokenDriftTV: identical→0, disjoint→1e6, empty side→1e6, hand case exact") {
    import spark.implicits._
    val a = Seq(("s1", "x x y"), ("s2", "a b"), ("s4", "only here")).toDF("src", "txt")
    val b = Seq(("s1", "x y y"), ("s2", "c d"), ("s3", "new src")).toDF("src", "txt")
    val got = TextStats.tokenDriftTV(a, b, "src", "txt")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // s1: p=(x:2/3, y:1/3) q=(x:1/3, y:2/3) → TV = 1/3 → 333333 ppm
    assert(got("s1") == ((3L, 3L, 333333L)))
    // s2: disjoint vocabularies → TV = 1
    assert(got("s2") == ((2L, 2L, 1000000L)))
    // one-sided groups → max drift by contract
    assert(got("s3") == ((0L, 2L, 1000000L)))
    assert(got("s4") == ((2L, 0L, 1000000L)))
    // identical snapshots → 0 for every group
    val same = TextStats.tokenDriftTV(a, a, "src", "txt").collect()
    assert(same.forall(_.getLong(3) == 0L))
  }

  test("rrfFuse: integer micro-points, cross-list agreement wins, k cuts") {
    import spark.implicits._
    val a = Seq((10L, 1L), (20L, 2L)).toDF("item_id", "rank")
    val b = Seq((20L, 1L), (30L, 2L)).toDF("item_id", "rank")
    val got = Similarity.rrfFuse(Seq(a, b), "item_id", "rank", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._4)
    // 1e6 DIV 61 = 16393, 1e6 DIV 62 = 16129; item 20 appears in both lists
    assert(got.toSeq == Seq(
      (20L, 16129L + 16393L, 2L, 1L),
      (10L, 16393L, 1L, 2L),
      (30L, 16129L, 1L, 3L)))
    // k cuts the fused list, not the inputs
    val cut = Similarity.rrfFuse(Seq(a, b), "item_id", "rank", k = 1)
      .collect().map(_.getLong(0)).toSeq
    assert(cut == Seq(20L))
  }

  test("lshPlan: full budget, inflection-vs-threshold split, defaults reproduced") {
    import graft.llm.Dedup.{lshPlan, LshPlan}
    // the pipeline defaults fall out of their own plan
    val p = lshPlan(0.25, 32)
    assert(p.numHashes == 32 && p.bands == 16 && p.rowsPerBand == 2)
    assert(p.inflection == 0.25)
    assert(math.abs(p.pAtThreshold - (1.0 - math.pow(1.0 - 0.0625, 16))) < 1e-12)
    // extreme thresholds drive the split to the curve's ends
    assert(lshPlan(0.02, 32).rowsPerBand == 1)  // near-dup sweep: all bands
    assert(lshPlan(0.9, 32) == LshPlan(32, 2, 16, math.pow(0.5, 1.0 / 16),
      1.0 - math.pow(1.0 - math.pow(0.9, 16), 2)))
    // the budget is always spent in full, whatever the threshold
    for (t <- Seq(0.1, 0.3, 0.5, 0.7, 0.9); n <- Seq(1, 16, 24, 32, 64)) {
      val plan = lshPlan(t, n)
      assert(plan.numHashes == n && plan.bands * plan.rowsPerBand == n)
      assert(plan.inflection > 0 && plan.inflection <= 1.0)
    }
    // inflection tracks the threshold monotonically in rowsPerBand
    val rs = Seq(0.05, 0.25, 0.6, 0.95).map(lshPlan(_, 32).rowsPerBand)
    assert(rs == rs.sorted)
  }

  test("ngramDiversity: hand case exact; null skipped; short/empty-doc convention") {
    import spark.implicits._
    val docs = Seq(
      ("s1", "abcd"),        // norm "abcd": grams abc,bcd → tot 2, distinct {abc,bcd}
      ("s1", "abcabc"),      // grams abc,bca,cab,abc → tot 4, adds {bca,cab}
      ("s2", "ab"),          // shorter than n: whole text as ONE gram
      ("s2", ""),            // empty: one empty gram
      ("s3", null)           // null text skipped entirely
    ).toDF("src", "txt")
    val got = TextStats.ngramDiversity(docs, "src", "txt", n = 3)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // s1: 2 docs, 2+4=6 occurrences, distinct {abc,bcd,bca,cab}=4 → 666666 ppm
    assert(got("s1") == ((2L, 6L, 4L, 666666L)))
    // s2: 2 docs, 1+1 occurrences, distinct {"ab", ""}=2 → 1e6 ppm
    assert(got("s2") == ((2L, 2L, 2L, 1000000L)))
    assert(!got.contains("s3"))
    // a fully templated source scores far below a diverse one
    val tpl = (1 to 50).map(i => ("tpl", "the same boilerplate every time")) ++
      (1 to 50).map(i => ("div", s"unique payload number $i with varied words ${i * 37}"))
    val ppm = TextStats.ngramDiversity(tpl.toDF("src", "txt"), "src", "txt")
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(ppm("tpl") * 3 < ppm("div"))
  }

  test("jpeg round-trip: REAL lossy DCT decode, deviation in (0, 16], dims exact") {
    import spark.implicits._
    val ids = spark.range(0, 60).as[Long]
    val records = ids.map(id => Multimodal.ImageRecord(id, Multimodal.synthesizeJpeg(id)))
    // the payloads are genuine JFIF/JPEG files (SOI marker), not a fake container
    val magic = records.head().content.take(2).toSeq
    assert(magic == Seq[Byte](0xFF.toByte, 0xD8.toByte))
    val got = Multimodal.decodeJpegStats(records).collect()
    assert(got.length == 60)
    got.foreach { s =>
      val (w, h) = Multimodal.jpegDims(s.media_id)
      assert(s.width == w && s.height == h && s.n_pixels == w.toLong * h)
      // max_abs_dev > 0 is the honesty pin: a stand-in that returns the
      // source pattern without running the codec would measure exactly 0;
      // the real JDK JPEG encoder's chroma subsampling never round-trips
      // this ramp losslessly (probed floor: 3, worst: 4 over 2000 ids)
      assert(s.max_abs_dev > 0, s"id=${s.media_id}: decode was not lossy — codec didn't run?")
      assert(s.max_abs_dev <= 16 && s.within_tol,
        s"id=${s.media_id}: deviation ${s.max_abs_dev} above tolerance")
    }
    // repartitioning must not change a narrow deterministic pipeline
    val got7 = Multimodal.decodeJpegStats(records.repartition(7)).collect()
      .map(s => s.media_id -> s).toMap
    got.foreach(s => assert(got7(s.media_id) == s))
  }

  test("image decode fails loudly on undecodable payloads") {
    import spark.implicits._
    val bogus = Seq(Multimodal.ImageRecord(1L, Array[Byte](1, 2, 3, 4))).toDS()
    val e = intercept[Exception] { Multimodal.decodeImageStats(bogus).collect() }
    assert(e.getMessage != null)
  }

  test("exactSubstringDupStats: ownership, overlap-union coverage, sub-window docs") {
    import spark.implicits._
    val corpus = Seq(
      // doc 1 owns the repeated span (smallest id)
      (1L, "alpha beta gamma delta epsilon zeta eta theta unique1 one"),
      // doc 2 repeats the 8-token span at its start: positions 1..8 covered
      (2L, "alpha beta gamma delta epsilon zeta eta theta unique2 two"),
      // doc 3 repeats 9 tokens (two OVERLAPPING 8-windows): union = 9, not 16
      (3L, "alpha beta gamma delta epsilon zeta eta theta unique1 three"),
      // doc 4 shares nothing
      (4L, "totally different words with no duplicated span at all here"),
      // doc 5 too short for any 8-window
      (5L, "short doc")
    ).toDF("doc_id", "text")
    val got = graft.llm.Dedup
      .exactSubstringDupStats(corpus, "doc_id", "text", windowTokens = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) == ((10L, 0L)), s"owner doc must keep its span: ${got(1L)}")
    assert(got(2L) == ((10L, 8L)), s"one repeated window covers 8: ${got(2L)}")
    // doc 3: windows at p=1 (tokens 1-8) and p=2 (tokens 2-9, 'beta..unique1'
    // owned by doc 1) overlap — union of covered positions is 9
    assert(got(3L) == ((10L, 9L)), s"overlapping windows must union: ${got(3L)}")
    assert(got(4L) == ((10L, 0L)), s"disjoint doc flagged: ${got(4L)}")
    assert(got(5L) == ((2L, 0L)), s"sub-window doc must appear with 0: ${got(5L)}")

    // the apply side strips exactly the census's covered positions and
    // rebuilds in position order
    val stripped = graft.llm.Dedup
      .stripDuplicatedSpans(corpus, "doc_id", "text", windowTokens = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(stripped(1L)._2 ==
      "alpha beta gamma delta epsilon zeta eta theta unique1 one",
      s"owner doc must keep its text: ${stripped(1L)}")
    assert(stripped(2L) == ((2L, "unique2 two")), s"strip failed: ${stripped(2L)}")
    assert(stripped(3L) == ((1L, "three")), s"overlap strip failed: ${stripped(3L)}")
    assert(stripped(5L) == ((2L, "short doc")), s"sub-window doc: ${stripped(5L)}")
    // census and apply agree: n_tokens - n_dup_tokens == n_kept
    got.foreach { case (id, (n, dup)) =>
      assert(stripped(id)._1 == n - dup, s"doc $id: census/apply disagree")
    }
  }

  test("audio decode: REAL javax.sound.sampled PCM round-trips the generating formula") {
    import spark.implicits._
    // driver-side reference from the synthesis formula — no audio code
    def reference(id: Long): (Long, Long, Long, Long) = {
      val n = 64 + (id % 32)
      var sum = 0L; var absSum = 0L; var crossings = 0L
      var prevNeg = false
      for (i <- 0L until n) {
        val s = (id * 37 + i * 17) % 4001 - 2000
        sum += s; absSum += math.abs(s)
        val neg = s < 0
        if (i > 0 && neg != prevNeg) crossings += 1
        prevNeg = neg
      }
      (n, sum, absSum, crossings)
    }
    val ids = spark.range(0, 60).as[Long]
    val records = ids.map(id => Multimodal.AudioRecord(id, Multimodal.synthesizeWav(id)))
    // the payloads are genuine RIFF/WAVE files, not a fake container
    val head = records.head().content
    assert(head.take(4).toSeq == "RIFF".getBytes("US-ASCII").toSeq)
    assert(head.slice(8, 12).toSeq == "WAVE".getBytes("US-ASCII").toSeq)
    val got = Multimodal.decodeAudioStats(records).collect()
      .map(s => s.media_id -> ((s.n_samples, s.s_sum, s.abs_sum, s.zero_crossings))).toMap
    assert(got.size == 60)
    (0L until 60L).foreach { id =>
      assert(got(id) == reference(id), s"decoded stats diverge for id=$id")
    }
    assert(Multimodal.decodeAudioStats(records).head().sample_rate == 8000L)
    // repartitioning must not change a narrow deterministic pipeline
    val got7 = Multimodal.decodeAudioStats(records.repartition(7)).collect()
      .map(s => s.media_id -> ((s.n_samples, s.s_sum, s.abs_sum, s.zero_crossings))).toMap
    assert(got7 == got)
  }

  test("audio decode fails loudly on undecodable payloads") {
    import spark.implicits._
    val bogus = Seq(Multimodal.AudioRecord(1L, Array[Byte](1, 2, 3, 4))).toDS()
    val e = intercept[Exception] { Multimodal.decodeAudioStats(bogus).collect() }
    assert(e.getMessage != null)
  }

  test("video decode: REAL multi-frame GIF round-trips the generating formula") {
    import spark.implicits._
    // driver-side reference from the synthesis formula — no image code;
    // frameStride=2 samples frames 0, 2, ...
    def reference(id: Long): (Long, Long, Long, Long) = {
      val nF = 2 + (id % 3); val w = 8 + (id % 4); val h = 8 + (id % 3)
      var s = 0L
      for (f <- 0L until nF if f % 2 == 0; y <- 0L until h; x <- 0L until w)
        s += (id * 13 + f * 29 + x * 7 + y * 3) % 256
      (nF, w, h, s)
    }
    val ids = spark.range(0, 60).as[Long]
    val records = ids.map(id => Multimodal.VideoRecord(id, Multimodal.synthesizeGif(id)))
    // the payloads are genuine GIF89a containers, not a fake wrapper
    val head = records.head().content
    assert(head.take(6).toSeq == "GIF89a".getBytes("US-ASCII").toSeq ||
      head.take(6).toSeq == "GIF87a".getBytes("US-ASCII").toSeq,
      s"not a GIF header: ${head.take(6).toSeq}")
    val got = Multimodal.decodeVideoStats(records, frameStride = 2).collect()
      .map(s => s.media_id -> ((s.n_frames, s.width, s.height, s.sampled_gray_sum)))
      .toMap
    assert(got.size == 60)
    (0L until 60L).foreach { id =>
      assert(got(id) == reference(id), s"decoded stats diverge for id=$id")
    }
    val got7 = Multimodal.decodeVideoStats(records.repartition(7), frameStride = 2)
      .collect().map(s => s.media_id -> ((s.n_frames, s.width, s.height,
        s.sampled_gray_sum))).toMap
    assert(got7 == got)
  }

  test("video decode fails loudly on undecodable payloads") {
    import spark.implicits._
    val bogus = Seq(Multimodal.VideoRecord(1L, Array[Byte](9, 9, 9, 9))).toDS()
    val e = intercept[Exception] { Multimodal.decodeVideoStats(bogus).collect() }
    assert(e.getMessage != null)
  }
}
