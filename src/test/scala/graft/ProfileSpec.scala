package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.tools.Profile

/** The profiler's per-query record on the suite's session, and the shared
  * session recipe's refusal to start beside an existing session.
  */
class ProfileSpec extends SparkSpec {

  test("the bench session recipe refuses to start while another session exists") {
    assert(!spark.sparkContext.isStopped)
    intercept[IllegalStateException](Bench.session())
  }

  test("profile: job timeline, stage lines, final plan and planning time per timed rep") {
    val out = Files.createTempDirectory("graft-profile")
    // q23's search runs its jobs when called and serves a local frame of
    // the collected rows, so its final plan is that frame's scan
    val finalPlans = Seq("q01_pricing_summary" -> "isFinalPlan=true", "q23_lsh_knn" -> "LocalTableScan")
    finalPlans.foreach { case (q, finalPlan) =>
      val r = Profile.profile(spark, sf0001, q, out)
      assert(r.error.isEmpty, s"$q failed: ${r.error}")
      assert(r.reps.map(_.label) == "cold" +: (1 to Profile.TimedReps).map(i => s"rep $i"))
      val jobs = r.reps.flatMap(_.jobs)
      assert(jobs.nonEmpty, s"$q recorded no job")
      assert(jobs.forall(j => j.end >= j.start), s"$q job ends before it starts: $jobs")
      val stages = r.reps.flatMap(_.stages)
      assert(stages.nonEmpty && stages.forall(_.tasks >= 1), s"$q stage without tasks: $stages")
      val plan = new String(Files.readAllBytes(out.resolve(s"$q.txt")), UTF_8)
      assert(plan.contains(finalPlan), s"$q plan is not the final plan:\n$plan")
      r.reps.tail.foreach { p =>
        assert(p.optimizationS > 0 || p.planningS > 0, s"$q ${p.label} reports no planning")
      }
      assert(r.rules.nonEmpty, s"$q has no rule ranking")
      assert(Profile.render(r).exists(_.startsWith(s"=== $q")))
    }
  }
}
