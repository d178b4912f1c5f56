package graft

class ProfileSpec extends SparkSpec {

  test("time: one result per gate, min bounds every run, every run submits a job") {
    val results = Profile.time(spark, SparkEntry.SmokeSfDir, 2, Seq("q1_agg"))
    assert(results.map(_.gate) == Seq("q1_agg"))
    val t = results.head
    assert(t.runs.size == 2 && t.jobs.size == 2)
    assert(t.runs.forall(t.min <= _))
    assert(t.jobs.forall(_ >= 1), s"jobs per run: ${t.jobs}")
  }

  test("plan: the final plan's operator histogram is non-empty") {
    val Seq(p) = Profile.plan(spark, SparkEntry.SmokeSfDir, Seq("q2_join_dim"))
    assert(p.gate == "q2_join_dim")
    assert(p.histogram.nonEmpty && p.histogram.values.forall(_ > 0))
    assert(p.formatted.contains("AdaptiveSparkPlan"))
  }
}
