package graft.did

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Pins the Spark jobs `AttGt.fit` submits on each path that fits a
  * propensity by distributed Newton-IRLS: pass 0, one pass per Newton
  * step after the first, the moment pass and the IF + SE pass. A fit
  * change that adds a pass shows up here before it shows up in a
  * benchmark's wall time. */
class FitJobsSpec extends AnyFunSuite with SparkSpec {
  import TestPanels._

  private def fitJobs(data: org.apache.spark.sql.DataFrame,
      c: AttGtConfig): Int = {
    val pp = Preprocess.run(data, c)
    val (fit, jobs) = SparkJobs.of(spark)(AttGt.fit(pp))
    fit.unpersist(); pp.unpersist()
    jobs
  }

  test("rc covariate dr fit") {
    assert(fitJobs(staggered(spark, nUnits = 200, noise = 0.1),
      cfg.copy(xfmla = Some("y ~ x1 + x2"))) == 14)
  }

  test("balanced-panel covariate dr fit") {
    assert(fitJobs(staggered(spark, nUnits = 200, noise = 0.1),
      cfg.copy(xfmla = Some("y ~ x1 + x2"),
        allowUnbalancedPanel = false)) == 14)
  }

  test("balanced-panel intercept-only dr fit") {
    assert(fitJobs(staggered(spark, nUnits = 200, noise = 0.1),
      cfg.copy(allowUnbalancedPanel = false)) == 6)
  }
}
