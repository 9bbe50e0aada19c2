package graft
import java.nio.file.{Files, Paths, StandardCopyOption}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Crash-proofing contract (r10 postmortem: a driver-side timeout mid-run
  * left NO oracle_sql.json and zeroed the round's correctness record to `{}`
  * despite a 153/153-green surface): oracle_sql.json is static data fully
  * independent of any query execution, so it is written FIRST — before the
  * Spark session even starts — and verify_meta.json is re-written after
  * every query so a kill -9 at any point leaves a parseable oracle file
  * plus the completed subset with per-query wall-times.
  */
object Verify {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private[graft] def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  // Atomic-ish write: tmp file + move, so a crash mid-write never leaves a
  // truncated (unparseable) JSON where a previous good copy stood.
  private[graft] def writeAtomic(path: String, content: String): Unit = {
    val tmp = Paths.get(path + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing query names: verify only those (local dev loops);
    // the driver passes exactly two args and gets the full surface
    val only = args.drop(2).toSet
    new java.io.File(outDir).mkdirs()
    // oracle_sql.json FIRST — static data; must survive any later crash.
    val oracleJson = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    writeAtomic(s"$outDir/oracle_sql.json", oracleJson)

    val spark = Harness.session()

    // verify_meta.json: re-written after every query — partial progress is
    // always visible and parseable. status ∈ {ok, err}; secs = wall time.
    val meta = scala.collection.mutable.LinkedHashMap.empty[String, (String, Double)]
    def flushMeta(done: Boolean): Unit = {
      val rows = meta.map { case (name, (st, secs)) =>
        s"${q(name)}: {${q("status")}: ${q(st)}, ${q("secs")}: ${BigDecimal(secs).setScale(3, BigDecimal.RoundingMode.HALF_UP)}}"
      }.mkString(",")
      val j = s"{${q("complete")}: $done, ${q("n")}: ${meta.size}, ${q("queries")}: {$rows}}"
      try writeAtomic(s"$outDir/verify_meta.json", j)
      catch { case e: Throwable => System.err.println(s"[verify] meta write failed: $e") }
    }
    flushMeta(done = false)

    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          meta(name) = ("ok", (System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          meta(name) = ("err", (System.nanoTime() - t0) / 1e9)
        }
        flushMeta(done = false)
      }
    flushMeta(done = true)
    spark.stop()
  }
}
