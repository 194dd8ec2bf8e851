package graft

/** `graft.Verify` reports every query that throws instead of dumping the
  * survivors and exiting 0. */
class VerifySpec extends SparkSpecBase {

  test("run returns the names of the queries that failed") {
    val out = java.nio.file.Files.createTempDirectory("graft_verify_").toString
    val failed = Verify.run(spark, "/nonexistent/sf_dir", out, only = Set("q01_group_agg"))
    assert(failed === Seq("q01_group_agg"))
    assert(new java.io.File(s"$out/oracle_sql.json").exists())
  }

  test("run rejects names no query declares before running anything") {
    val out = java.nio.file.Files.createTempDirectory("graft_verify_").toString
    val e = intercept[IllegalArgumentException] {
      Verify.run(spark, "/nonexistent/sf_dir", out, only = Set("q01_group_agg", "q999_typo"))
    }
    assert(e.getMessage.contains("q999_typo"))
    assert(!e.getMessage.contains("q01_group_agg"))
    assert(new java.io.File(out).list().isEmpty)
  }
}
