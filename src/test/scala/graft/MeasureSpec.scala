package graft

import graft.tools.Measure

/** graft.tools.Measure on the shared session: per-rep bills are stable
  * once warm, rows match the registered query, failures are named.
  */
class MeasureSpec extends SparkSpec {

  test("warm reps report identical jobs/stages/tasks, CPU time and the query's rows") {
    val reps = Measure.run(spark, Seq("q01_agg"), 3, sfDir)
    assert(reps.map(_.rep) == Seq(1, 2, 3))
    assert(reps.forall(_.failure.isEmpty))
    val (r2, r3) = (reps(1).bill, reps(2).bill)
    Seq("jobs", "stages", "tasks").foreach(k => assert(r2(k) == r3(k), k))
    assert(r2("jobs") > 0 && r2("tasks") > 0)
    assert(r2("cpuNs") > 0 && r3("cpuNs") > 0)
    val rows = SparkEntry.queries("q01_agg")(spark, sfDir).count()
    assert(reps.forall(_.rows == rows))
  }

  test("an unknown query name fails with the registered names") {
    val e = intercept[IllegalArgumentException](
      Measure.run(spark, Seq("q01_agg", "q00_missing"), 1, sfDir))
    assert(e.getMessage.contains("q00_missing"))
    assert(SparkEntry.queries.keys.forall(e.getMessage.contains))
  }

  test("a query that throws is recorded with its exception class") {
    val Seq(rep) = Measure.run(spark, Seq("q01_agg"), 1, "/nonexistent/graft-sf")
    assert(rep.rows == -1)
    assert(rep.failure.exists(_.contains("AnalysisException")), rep.failure)
  }
}
