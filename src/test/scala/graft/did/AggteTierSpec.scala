package graft.did

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Tier-equality pins for Aggte's driver tier: every family must give the
  * same result whether it sweeps the driver-resident IF table (under
  * [[MBoot.MaxDriverEntries]]) or runs the distributed join+groupBy
  * (`maxDriverEntries = 0` forces it). Point estimates are bit-equal (the
  * same driver arithmetic over the same pg); SEs and critical values
  * agree to 1e-12 relative, the only difference being the order the
  * (unit, member) sums and bootstrap draws are added in. */
class AggteTierSpec extends AnyFunSuite with SparkSpec {
  import TestPanels._

  private def relClose(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || a == b ||
      math.abs(a - b) <= 1e-12 * math.max(math.abs(a), math.abs(b))

  private def bitEqual(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)

  private def assertSame(d: AggteResult, s: AggteResult,
      attClose: (Double, Double) => Boolean = bitEqual): Unit = {
    val clue = s"driver $d vs distributed $s"
    assert(d.typec == s.typec && d.egt == s.egt, clue)
    assert(attClose(d.overallAtt, s.overallAtt), clue)
    assert(d.attEgt.length == s.attEgt.length, clue)
    d.attEgt.zip(s.attEgt).foreach { case (a, b) => assert(attClose(a, b), clue) }
    assert(relClose(d.overallSe, s.overallSe), clue)
    d.seEgt.zip(s.seEgt).foreach { case (a, b) => assert(relClose(a, b), clue) }
    assert(relClose(d.critValEgt, s.critValEgt), clue)
  }

  /** Both tiers' Prep of one fit; the driver one really holds the arrays. */
  private def tiers(fit: AttGtFit, naRm: Boolean = false)
      : (Aggte.Prep, Aggte.Prep) = {
    val d = Aggte.prepare(fit, naRm)
    val s = Aggte.prepare(fit, naRm, maxDriverEntries = 0L)
    assert(d.local.isDefined && s.local.isEmpty)
    (d, s)
  }

  private def allFamilies(d: Aggte.Prep, s: Aggte.Prep): Unit = {
    assertSame(Aggte.simple(d), Aggte.simple(s))
    assertSame(Aggte.group(d), Aggte.group(s))
    assertSame(Aggte.calendar(d), Aggte.calendar(s))
    assertSame(Aggte.dynamic(d), Aggte.dynamic(s))
  }

  // unbalanced: some units miss a period, so the rc regime's unit sets
  // differ across cells and families
  private def unbalanced(nUnits: Int) =
    staggered(spark, nUnits = nUnits, noise = 0.2)
      .filter(!(pmod(col("id"), lit(7)) === 0 && col("period") === 2) &&
        !(pmod(col("id"), lit(11)) === 3 && col("period") === 5))

  test("rc intercept-only, bootstrap + bands: all four families") {
    val pp = Preprocess.run(unbalanced(240),
      cfg.copy(cband = true, biters = 299))
    assert(!pp.panel)
    val fit = AttGt.fit(pp, bstrap = true)
    val (d, s) = tiers(fit)
    assert(d.pgByCohort == s.pgByCohort && d.pg.sameElements(s.pg))
    allFamilies(d, s)
    // the bands are live: a real sup-t value above the pointwise z
    assert(Aggte.dynamic(d).critValEgt > Stats.normPpf(1 - cfg.alp / 2))
    fit.unpersist(); pp.unpersist()
  }

  test("balanced panel: all four families, bootstrap and analytic") {
    val pp = Preprocess.run(staggered(spark, nUnits = 160, noise = 0.2),
      cfg.copy(allowUnbalancedPanel = false, cband = true, biters = 199))
    assert(pp.panel)
    val fit = AttGt.fit(pp, bstrap = true)
    val (d, s) = tiers(fit)
    allFamilies(d, s)
    assertSame(Aggte.group(d, bstrap = Some(false), cband = Some(false)),
      Aggte.group(s, bstrap = Some(false), cband = Some(false)))
    fit.unpersist(); pp.unpersist()
  }

  test("naRm-pruned fit: cell ids still line up on both tiers") {
    val pp = Preprocess.run(unbalanced(150), cfg.copy(biters = 199))
    val fit = AttGt.fit(pp, bstrap = true)
    val poisoned = fit.copy(att = fit.att.updated(1, Double.NaN))
    val (d, s) = tiers(poisoned, naRm = true)
    assert(d.cellIds.length == fit.cells.length - 1)
    allFamilies(d, s)
    fit.unpersist(); pp.unpersist()
  }

  test("dynamic with minE/maxE and with balanceE, bands on") {
    val pp = Preprocess.run(unbalanced(200), cfg.copy(biters = 199))
    val fit = AttGt.fit(pp, bstrap = true)
    val (d, s) = tiers(fit)
    def both(f: Aggte.Prep => AggteResult): Unit = assertSame(f(d), f(s))
    both(Aggte.dynamic(_, minE = -2, maxE = 1, cband = Some(true)))
    both(Aggte.dynamic(_, balanceE = Some(2.0), cband = Some(true)))
    both(Aggte.simple(_, maxE = 1))
    both(Aggte.group(_, maxE = 0, cband = Some(true)))
    fit.unpersist(); pp.unpersist()
  }

  test("bstrap = false fit: analytic SEs, and the band-only bootstrap") {
    val pp = Preprocess.run(unbalanced(200), cfg.copy(biters = 199))
    val fit = AttGt.fit(pp)
    val (d, s) = tiers(fit)
    allFamilies(d, s)
    assertSame(Aggte.calendar(d, cband = Some(true)),
      Aggte.calendar(s, cband = Some(true)))
    fit.unpersist(); pp.unpersist()
  }

  test("weighted fit: pg sums in a different order, ATTs equal to 1e-12") {
    val pp = Preprocess.run(unbalanced(200),
      cfg.copy(weightsName = Some("wgt"), biters = 199))
    val fit = AttGt.fit(pp, bstrap = true)
    val (d, s) = tiers(fit)
    Seq[Aggte.Prep => AggteResult](Aggte.simple(_), Aggte.group(_),
      Aggte.calendar(_), Aggte.dynamic(_, cband = Some(true)))
      .foreach(f => assertSame(f(d), f(s), relClose))
    fit.unpersist(); pp.unpersist()
  }

  private def jobsOf[T](body: => T): (T, Int) = SparkJobs.of(spark)(body)

  test("driver tier: prepare runs 3 Spark jobs, each family none") {
    val pp = Preprocess.run(unbalanced(200),
      cfg.copy(cband = true, biters = 199))
    val fit = AttGt.fit(pp, bstrap = true)
    // IF count, IF collect, units collect
    val (p, prepJobs) = jobsOf(Aggte.prepare(fit))
    assert(prepJobs == 3)
    assert(jobsOf(Aggte.simple(p))._2 == 0)
    assert(jobsOf(Aggte.group(p))._2 == 0)
    assert(jobsOf(Aggte.calendar(p))._2 == 0)
    assert(jobsOf(Aggte.dynamic(p))._2 == 0)
    // the distributed tier, for contrast, runs jobs in every family
    val sp = Aggte.prepare(fit, naRm = false, maxDriverEntries = 0L)
    assert(jobsOf(Aggte.simple(sp))._2 > 0)
    fit.unpersist(); pp.unpersist()
  }
}
