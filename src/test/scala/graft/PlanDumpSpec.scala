package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.PlanDump

/** `PlanDump.normalize` masks each value a plan prints that changes from
  * run to run, so two dumps of the same code compare equal. No Spark
  * session. */
class PlanDumpSpec extends AnyFunSuite {

  private def plan(tmp: String, planId: Int, job: String, hash: String): String =
    s"""(2) BatchScan graft_cat.main.t
       |Output [2]: [k#12L, v#13]
       |Location: InMemoryFileIndex [file:$tmp/graft_io/t/part-$job-77aa-4b1c-c000.zstd.parquet]
       |Lookup: graft.sources.DvSidecarLookup@$hash
       |(5) Exchange
       |Arguments: hashpartitioning(k#12L, 4), ENSURE_REQUIREMENTS, [plan_id=$planId]
       |Siblings: ${tmp}x/a, $tmp.old/b, $tmp, ($tmp)""".stripMargin

  test("normalize prints plan ids, part-file job ids, identity hashes and the tmp dir as placeholders") {
    val a = PlanDump.normalize(plan("/tmp/run-a", 417, "3f2a9c1e", "1b2c3d4e"), "/tmp/run-a")
    assert(a ==
      """(2) BatchScan graft_cat.main.t
        |Output [2]: [k#12L, v#13]
        |Location: InMemoryFileIndex [file:<tmp>/graft_io/t/part-<uuid>-77aa-4b1c-c000.zstd.parquet]
        |Lookup: graft.sources.DvSidecarLookup@<hash>
        |(5) Exchange
        |Arguments: hashpartitioning(k#12L, 4), ENSURE_REQUIREMENTS, [plan_id=<n>]
        |Siblings: /tmp/run-ax/a, /tmp/run-a.old/b, <tmp>, (<tmp>)""".stripMargin)
    // another run under another tmp dir, given with a trailing slash
    val b = PlanDump.normalize(plan("/var/tmp/b", 9, "0c0ffee0", "5e6f7"), "/var/tmp/b/")
    assert(b == a.replace("/tmp/run-a", "/var/tmp/b"))
  }

  test("normalize masks java.io.tmpdir by default and leaves expression ids") {
    val tmp = System.getProperty("java.io.tmpdir").stripSuffix("/")
    assert(PlanDump.normalize(s"Scan [file:$tmp/t] [k#7]") == "Scan [file:<tmp>/t] [k#7]")
  }
}
