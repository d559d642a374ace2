package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** QueryProfile's two modes on the shared session: the listener-backed
  * profile and the `--plan` formatted plan.
  */
class QueryProfileSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"
  private val name = "q01_scan_filter_project"

  test("profile reports the query's row count and the jobs it ran") {
    val reps = QueryProfile.profile(spark, sfDir, Seq(name), reps = 1)
    reps should have size 1
    val r = reps.head
    r.name shouldBe name
    r.rows shouldBe SparkEntry.queries(name)(spark, sfDir).count()
    r.rows should be > 0L
    r.jobs should be >= 1
  }

  test("--plan renders the formatted plan, parquet scan included") {
    QueryProfile.plan(spark, sfDir, name) should include("Scan parquet")
  }
}
