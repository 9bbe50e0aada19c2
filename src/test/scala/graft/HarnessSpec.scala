package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared session's confs move oracle hashes (time zone, nanos
  * timestamps) and plan fingerprints (split size, shuffle partitions), so a
  * silent drift in any of them must fail here first. */
class HarnessSpec extends AnyFunSuite {

  test("session confs: UTC, nanosAsLong, 4m splits, shuffle partitions = cpus") {
    val c = Harness.conf()
    assert(c.get("spark.master") == s"local[${Harness.cpus}]")
    assert(c.get("spark.sql.shuffle.partitions") == Harness.cpus)
    assert(c.get("spark.sql.session.timeZone") == "UTC")
    assert(c.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(c.get("spark.sql.files.maxPartitionBytes") == "4m")
    assert(c.get("spark.ui.enabled") == "false")
    assert(!c.contains("spark.sql.parquet.outputTimestampType"))
  }

  test("FuzzCheck's extra conf is added on top of the shared ones") {
    val key = "spark.sql.parquet.outputTimestampType"
    val fuzz = Harness.conf(key -> "TIMESTAMP_MICROS")
    assert(fuzz.get(key) == "TIMESTAMP_MICROS")
    assert(fuzz.getAll.toMap - key == Harness.conf().getAll.toMap)
  }
}
