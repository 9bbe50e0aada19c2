package perfbench

/** Pins the pipeline's expected outputs. For each pipeline query it prints
  * `query<TAB>rows:hashSum`, and writes the query's output as parquet under
  * `out/<query>` with the oracle SQL in `out/oracle_sql.json`, the layout
  * the repository's `scripts/compare.py` checks against DuckDB. Pin only
  * fingerprints whose outputs that check matched. */
object Pin {
  /** A JSON string literal. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def run(dataDir: String, out: String): Unit = {
    val w = new PipelineWorkload(0L, dataDir)
    val spark = Main.session(w, Runtime.getRuntime.availableProcessors())
    val names = w.Queries.map(_._1)
    new java.io.File(out).mkdirs()
    val oracle = names.map(n => s"${quote(n)}: ${quote(graft.SparkEntry.oracleSql(n))}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      oracle.mkString("{", ",", "}"))
    val pins = names.map { n =>
      val run = graft.SparkEntry.queries(n)
      run(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
      w.sweep(spark)
      val fp = Fingerprint.of(run(spark, dataDir))
      w.sweep(spark)
      s"$n\t$fp"
    }
    spark.stop()
    pins.foreach(println)
  }
}
