package graft

/** Differential fuzz harness (r15, VERDICT task 1): the fixed fixture has
  * no NULLs, no ties-by-construction, no unicode extremes — so every NULL
  * convention documented on the query surface (RollupMaintain's null-safe
  * `<=>` join, Anonymity's NULL-QI groups, the skew-join outer coalesce,
  * Contingency's NULL-category margins, corr/spearman complete-rows) was
  * spec-trusted, never differentially oracle-checked. This main closes
  * that gap: for each seed it writes a hostile corpus
  * ([[FuzzCorpus.write]]) with the SAME table names and schemas, then runs
  * the full `SparkEntry.queries` surface against it exactly like
  * [[Verify]] — same parquet dump, same `oracle_sql.json` — so
  * `scripts/fuzzcheck.py` can replay every oracle in DuckDB over the SAME
  * hostile corpus and diff. One specification, two engines, adversarial
  * data.
  *
  * Usage: `runMain graft.FuzzCheck OUT_ROOT seed1,seed2,... [QUERY...]`
  * Layout per seed: `OUT_ROOT/seed_<s>/data/<table>.parquet` (corpus) and
  * `OUT_ROOT/seed_<s>/out/<query>/` + `oracle_sql.json` (results). */
object FuzzCheck {
  def main(args: Array[String]): Unit = {
    val outRoot = args(0)
    val seeds = args(1).split(",").map(_.trim.toLong).toSeq
    val only = args.drop(2).toSet

    val spark = Harness.session(
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")

    val oracleJson = SparkEntry.oracleSql
      .map { case (k, v) => s"${Verify.q(k)}: ${Verify.q(v)}" }
      .mkString("{", ",", "}")

    seeds.foreach { seed =>
      val dataDir = s"$outRoot/seed_$seed/data"
      val outDir = s"$outRoot/seed_$seed/out"
      new java.io.File(outDir).mkdirs()
      // GRAFT_FUZZ_REUSE=1: skip regeneration when the corpus already
      // exists — the per-query dev loop while fixing a finding (the
      // generator is seed-deterministic, so reuse can't change the data)
      // GRAFT_FUZZ_SLICE=K (r16, VERDICT task 2): after generating the
      // corpus, reshape events/documents into K mtime-ordered micro-batch
      // slice files and cap the file stream source at one file per
      // trigger — every stream_* query then replays through K hostile
      // batch boundaries while the DuckDB oracle reads the same rows
      val slices = sys.env.get("GRAFT_FUZZ_SLICE").map(_.toInt)
      // a reused corpus must match the requested shape: sliced runs need
      // BOTH sliced tables (events AND documents — an interrupted reslice
      // can leave just events done) as slice DIRECTORIES, unsliced runs
      // need single files
      def shapeMatches = Seq("events", "documents").forall(t =>
        new java.io.File(s"$dataDir/$t.parquet").isDirectory == slices.isDefined)
      if (sys.env.get("GRAFT_FUZZ_REUSE").contains("1") &&
          new java.io.File(s"$dataDir/embeddings.parquet").exists() &&
          shapeMatches) {
        println(s"[fuzz] seed $seed: reusing corpus at $dataDir")
      } else {
        println(s"[fuzz] seed $seed: generating corpus -> $dataDir")
        FuzzCorpus.write(spark, dataDir, seed)
        slices.foreach { k =>
          println(s"[fuzz] seed $seed: reslicing events/documents into $k micro-batches")
          FuzzCorpus.resliceForStreaming(spark, dataDir, seed, k)
        }
      }
      slices.foreach(_ =>
        spark.conf.set("graft.stream.maxFilesPerTrigger", "1"))
      // bad-key seeds (≤ -100) run the key-dependent queries through the
      // strict primary-key gate: the contract says they must fail LOUDLY
      // on NULL/duplicate ids (KeyContract), and fuzzcheck.py counts each
      // registered loud rejection as a pass-by-rejection — any other
      // error, and any silent divergence on the unchecked queries, fails
      spark.conf.set("graft.keycheck", if (seed <= -100) "strict" else "off")
      Verify.writeAtomic(s"$outDir/oracle_sql.json", oracleJson)

      var ok = 0; var err = 0
      val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
      SparkEntry.queries
        .filter { case (name, _) => only.isEmpty || only(name) }
        .foreach { case (name, fn) =>
          try {
            fn(spark, dataDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            ok += 1
          } catch { case e: Throwable =>
            err += 1
            val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
            failed(name) = msg.linesIterator.take(1).mkString.take(300)
            System.err.println(s"[fuzz] seed $seed $name FAILED: ${failed(name)}")
          }
        }
      val failJson = failed
        .map { case (k, v) => s"${Verify.q(k)}: ${Verify.q(v)}" }
        .mkString("{", ",", "}")
      Verify.writeAtomic(s"$outDir/fuzz_meta.json",
        s"""{"seed": $seed, "sliced": ${slices.getOrElse(0)}, "ok": $ok, "err": $err, "failed": $failJson}""")
      println(s"[fuzz] seed $seed: $ok ok, $err spark-side errors")
    }
    spark.stop()
  }
}
