package graft.did

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

class MBootSpec extends AnyFunSuite with SparkSpec {
  import TestPanels._

  private lazy val fit = {
    val pp = Preprocess.run(staggered(spark, nUnits = 200, noise = 0.1), cfg)
    AttGt.fit(pp, estMethod = "dr", bstrap = true)
  }

  test("bootstrap SEs are near the analytic influence-function SEs") {
    fit.cells.indices.filterNot(fit.skipped).foreach { i =>
      val a = fit.seAnalytic(i); val b = fit.se(i)
      assert(b > 0, s"cell $i se=$b")
      assert(math.abs(a - b) / a < 0.5, s"cell $i: analytic $a vs boot $b")
    }
  }

  test("sup-t critical value exceeds the pointwise normal quantile") {
    assert(fit.critVal > Stats.normPpf(0.975))
    assert(fit.critVal < 7.0) // reference warns above 7 (csdids/ATTgt.py:767)
  }

  test("same seed is deterministic; different seed perturbs") {
    val r1 = MBoot.run(fit.ifTable, fit.cells.length, fit.pp.n, 199, 0.05, 1L)
    val r2 = MBoot.run(fit.ifTable, fit.cells.length, fit.pp.n, 199, 0.05, 1L)
    val r3 = MBoot.run(fit.ifTable, fit.cells.length, fit.pp.n, 199, 0.05, 2L)
    assert(r1.critVal == r2.critVal)
    assert(r1.se.toSeq == r2.se.toSeq)
    assert(r1.critVal != r3.critVal || r1.se.toSeq != r3.se.toSeq)
  }

  test("bootstrap covariance matches np.cov(bres, rowvar=False) by hand") {
    // bres = [[1,2],[3,4],[5,9]]: means (3,5); ddof=1 =>
    // var0 = 4, cov01 = 7, var1 = 13
    val r = MBootResult(Array(Array(1.0, 2.0), Array(3.0, 4.0),
      Array(5.0, 9.0)), Array(0.0, 0.0), 0.0)
    assert(r.cov(0)(0) == 4.0)
    assert(r.cov(0)(1) == 7.0 && r.cov(1)(0) == 7.0)
    assert(r.cov(1)(1) == 13.0)
    // diagonal of the real bootstrap covariance ~ bSigma-free variance:
    // positive and finite on non-degenerate dims
    val real = MBoot.run(fit.ifTable, fit.cells.length, fit.pp.n, 199, 0.05, 1L)
    real.se.indices.foreach { i =>
      if (!real.se(i).isNaN)
        assert(real.cov(i)(i) > 0 && java.lang.Double.isFinite(real.cov(i)(i)))
    }
  }

  test("cov refuses biters < 2 instead of dividing by zero") {
    val r = MBootResult(Array(Array(1.0, 2.0)), Array(0.0, 0.0), 0.0)
    val ex = intercept[IllegalArgumentException](r.cov)
    assert(ex.getMessage.contains("biters"))
  }

  test("driver-tier gate: a cap of 0 refuses the driver tier, even empty") {
    assert(!MBoot.driverTier(0L, 0L))
    assert(!MBoot.driverTier(5L, 0L))
    assert(MBoot.driverTier(0L, 1L))
    assert(MBoot.driverTier(5L, 5L))
    assert(!MBoot.driverTier(6L, 5L))
    assert(MBoot.driverTier(MBoot.MaxDriverEntries, MBoot.MaxDriverEntries))
  }

  test("distributed path agrees distributionally with driver path") {
    val driver = MBoot.run(fit.ifTable, fit.cells.length, fit.pp.n,
      999, 0.05, 5L)
    val dist = MBoot.run(fit.ifTable, fit.cells.length, fit.pp.n,
      999, 0.05, 5L, maxDriverEntries = 0L)
    driver.se.indices.foreach { i =>
      if (!driver.se(i).isNaN)
        assert(math.abs(driver.se(i) - dist.se(i)) / driver.se(i) < 0.25,
          s"dim $i: ${driver.se(i)} vs ${dist.se(i)}")
    }
    assert(math.abs(driver.critVal - dist.critVal) / driver.critVal < 0.25)
  }

  test("md5 draw matrix matches an independent driver-side replay") {
    val biters = 16
    val dm = MBoot.drawMatrixMd5(fit.ifTable, fit.pp.n, biters)
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    // independent replay: MessageDigest over the same key, top bit rule
    val md = java.security.MessageDigest.getInstance("MD5")
    val expected = scala.collection.mutable.Map
      .empty[(Int, Int), Double].withDefaultValue(0.0)
    fit.ifTable.collect().foreach { r =>
      val rowid = r.get(0).toString
      val cell = r.getInt(1)
      val inf = r.getDouble(2)
      (0 until biters).foreach { b =>
        md.reset()
        val d = md.digest(s"$rowid#$b#".getBytes("UTF-8"))
        val sgn = if ((d(0) & 0x80) == 0) 1.0 else -1.0
        expected((cell, b)) += inf * sgn
      }
    }
    val sqrtN = math.sqrt(fit.pp.n.toDouble)
    assert(dm.nonEmpty)
    dm.foreach { case (key, v) =>
      val e = expected(key) / sqrtN
      assert(math.abs(v - e) <= 1e-9 * math.max(1.0, math.abs(e)),
        s"$key: engine $v vs replay $e")
    }
    // md5 flavor through finish() lands near the production bootstrap
    val md5se = MBoot.runMd5(fit.ifTable, fit.cells.length, fit.pp.n,
      199, 0.05).se
    val prod = MBoot.run(fit.ifTable, fit.cells.length, fit.pp.n,
      199, 0.05, 5L).se
    prod.indices.filterNot(i => prod(i).isNaN || md5se(i).isNaN)
      .foreach { i =>
        assert(math.abs(prod(i) - md5se(i)) / prod(i) < 0.3,
          s"dim $i: prod ${prod(i)} vs md5 ${md5se(i)}")
      }
  }
}
