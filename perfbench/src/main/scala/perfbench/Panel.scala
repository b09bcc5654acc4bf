package perfbench

import java.util.SplittableRandom

/** One benchmark workload: the shape of the generated panel and the
  * estimator options the pipeline is called with. */
final case class Workload(
    name: String,
    units: Int,
    periods: Int,
    cohorts: Vector[Int],
    dropFrac: Double,
    covariates: Boolean,
    controlGroup: String,
    unbalanced: Boolean,
    bstrap: Boolean,
    cband: Boolean,
    biters: Int) {

  /** The same regime at a fraction of the units, for the smoke mode. */
  def smoke: Workload = copy(units = math.max(units / 10, 300), biters = 200)
}

object Workload {
  val all: Map[String, Workload] = Seq(
    // the reference's default regime: unbalanced panel -> repeated cross
    // sections, intercept-only, bootstrap + uniform bands
    Workload("rc_boot", units = 800, periods = 8, cohorts = Vector(3, 5, 7),
      dropFrac = 0.1, covariates = false, controlGroup = "nevertreated",
      unbalanced = true, bstrap = true, cband = true, biters = 1000),
    // same shape with three covariates: the doubly-robust covariate fit,
    // analytic SEs only
    Workload("rc_cov", units = 800, periods = 8, cohorts = Vector(3, 5, 7),
      dropFrac = 0.1, covariates = true, controlGroup = "nevertreated",
      unbalanced = true, bstrap = false, cband = false, biters = 1000),
    // balanced panel, many cells over few rows, not-yet-treated controls
    Workload("panel_grid", units = 1000, periods = 14,
      cohorts = Vector(4, 6, 8, 10, 12, 14), dropFrac = 0.0,
      covariates = false, controlGroup = "notyettreated", unbalanced = false,
      bstrap = true, cband = true, biters = 1000)
  ).map(w => w.name -> w).toMap
}

/** One generated row: unit `id`, period `t`, first-treated period `g`
  * (0 = never treated), outcome `y` and three unit-level covariates. */
final case class PanelRow(id: Long, t: Int, g: Int, y: Double,
    x1: Double, x2: Double, x3: Double)

/** Seeded staggered-adoption panel with planted effects.
  *
  * y = a_i + 0.1 t + [0.3 t x1 + 0.5 x2 - 0.3 x3] + tau(g,t) + e, where
  * tau(g,t) = (t - g + 1) * Delta + 0.2 * (cohort rank) for t >= g and 0
  * before. Trends are parallel by construction. With covariates, cohort
  * membership is a logit in x1 and x1's effect grows with t, so only a
  * covariate-adjusted fit is unbiased. */
final case class Panel(w: Workload, seed: Long, rows: Array[PanelRow]) {

  def tau(g: Int, t: Int): Double = Panel.tau(w, g, t)

  /** Cohort share of units, the weight the aggregations use. */
  lazy val cohortShare: Map[Int, Double] = {
    val unitG = rows.iterator.map(r => r.id -> r.g).toMap
    val n = unitG.size.toDouble
    unitG.values.groupBy(identity).map { case (g, us) => g -> us.size / n }
  }

  def nUnits: Int = rows.iterator.map(_.id).toSet.size
}

object Panel {
  val Delta = 0.4

  def tau(w: Workload, g: Int, t: Int): Double =
    if (g == 0 || t < g) 0.0
    else (t - g + 1) * Delta + 0.2 * (w.cohorts.indexOf(g) + 1)

  def generate(w: Workload, seed: Long): Panel = {
    val rng = new SplittableRandom(seed)
    val out = Array.newBuilder[PanelRow]
    var i = 0
    while (i < w.units) {
      val x1 = rng.nextGaussian(); val x2 = rng.nextGaussian()
      val x3 = rng.nextGaussian()
      val a = 0.5 * rng.nextGaussian()
      // cohort draw: never-treated has weight 1, cohort k weight
      // exp(b + s x1), so P(g | g or never, x) is logistic in x1
      val s = if (w.covariates) 1.2 else 0.0
      val wts = 1.0 +: w.cohorts.map(_ => math.exp(-0.3 + s * x1))
      var u = rng.nextDouble() * wts.sum
      var k = 0
      while (k < wts.length - 1 && u >= wts(k)) { u -= wts(k); k += 1 }
      val g = if (k == 0) 0 else w.cohorts(k - 1)
      var t = 1
      while (t <= w.periods) {
        val e = rng.nextGaussian()
        val keep = rng.nextDouble() >= w.dropFrac
        if (keep) {
          val cov =
            if (w.covariates) 0.3 * t * x1 + 0.5 * x2 - 0.3 * x3 else 0.0
          out += PanelRow(i.toLong, t, g, a + 0.1 * t + cov + tau(w, g, t) + e,
            x1, x2, x3)
        }
        t += 1
      }
      i += 1
    }
    Panel(w, seed, out.result())
  }

  /** Independent 2x2 difference of means for every (g,t) cell of the
    * never-treated, varying-base-period regime with unit weights:
    * (mean y[g,t] - mean y[C,t]) - (mean y[g,base] - mean y[C,base]),
    * base = t-1 before treatment and g-1 after. Keyed by (g, t). */
  def twoByTwo(p: Panel): Map[(Int, Int), Double] = {
    val sums = scala.collection.mutable.Map.empty[(Int, Int), (Double, Long)]
    p.rows.foreach { r =>
      val k = (r.g, r.t)
      val (s, c) = sums.getOrElse(k, (0.0, 0L))
      sums(k) = (s + r.y, c + 1)
    }
    def mean(g: Int, t: Int): Double = { val (s, c) = sums((g, t)); s / c }
    (for {
      g <- p.w.cohorts
      t <- 2 to p.w.periods
    } yield {
      val base = if (t >= g) g - 1 else t - 1
      (g, t) -> ((mean(g, t) - mean(0, t)) - (mean(g, base) - mean(0, base)))
    }).toMap
  }
}
