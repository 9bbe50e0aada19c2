package graft

/** Optimization-round diagnostic: write `explain("formatted")` for named
  * queries to `plans/<tag>/<query>_<suffix>.txt`, under Bench's session
  * ([[Harness.session]]), so the committed plan files describe exactly what
  * the bench measures.
  *
  * Usage: `sbt "Test/runMain graft.PlanDump <tag> <suffix> <query1,query2,...|ALL>"`
  * e.g.   `sbt "Test/runMain graft.PlanDump r18 before dedup_minhash,knn_graph"`
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val suffix = args(1)
    val names: Seq[String] =
      if (args(2) == "ALL") SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    val outDir = java.nio.file.Paths.get(s"plans/$tag")
    java.nio.file.Files.createDirectories(outDir)
    names.foreach { name =>
      val out = outDir.resolve(s"${name}_$suffix.txt")
      try {
        val df = SparkEntry.queries(name)(spark, dir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(out,
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[plandump] wrote $out (${txt.length} chars)")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
      // queries that localCheckpoint during construction leave blocks behind
      Harness.sweep(spark)
    }
    spark.stop()
  }
}
