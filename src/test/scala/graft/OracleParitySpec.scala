package graft

import scala.sys.process._

/** Self-hosted replica of the driver's t2 gate: run Verify on sf0.01,
  * then compare every declared oracle query against DuckDB via
  * tools/oracle_check.py. A grading failure must never be observed
  * first by the driver (SURVEY.md §5).
  * Verify runs on the JVM's shared session, which stays up for the
  * suites after this one.
  */
class OracleParitySpec extends SparkTestBase {

  private def parityAt(sfDir: String): Unit = {
    val out = java.nio.file.Files.createTempDirectory("graft-verify").toString
    spark.sparkContext.setLogLevel("WARN") // as `Verify.main` runs
    Verify.run(spark, sfDir, out, SparkEntry.queries.keys.toSeq)
    val log = new StringBuilder
    val code = Seq("python3", "tools/oracle_check.py", sfDir, out)
      .!(ProcessLogger(l => log.append(l).append('\n')))
    assert(code == 0, "\n" + log)
  }

  test("every declared oracle query hash-matches DuckDB on sf0.01") {
    parityAt("/root/testdata/sf0.01")
  }

  test("parity holds at sf0.001 too (not tuned to one dataset)") {
    parityAt("/root/testdata/sf0.001")
  }

  test("gate rejects array columns and un-cast HUGEINT sums (driver strictness)") {
    val log = new StringBuilder
    val code = Seq("python3", "tools/oracle_check.py", "--selftest")
      .!(ProcessLogger(l => log.append(l).append('\n')))
    assert(code == 0, "\n" + log)
  }
}
