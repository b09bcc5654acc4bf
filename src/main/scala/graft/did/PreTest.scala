package graft.did

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import breeze.linalg.{inv, DenseMatrix, DenseVector}
import org.apache.commons.math3.distribution.ChiSquaredDistribution

/** Pre-trend diagnostics over a fitted ATT(g,t) surface — EXTENSION
  * beyond the reference (which stops at per-cell SEs,
  * `/root/reference/csdids/ATTgt.py:461-476`): the standard
  * event-study credibility check that all pre-treatment ATT(g,t) are
  * jointly zero, via a Wald statistic over the influence-function
  * covariance (the same construction R's `did` package exposes as its
  * `pre_test`).
  */
object PreTest {

  /** Covariance matrix of the ATT(g,t) estimates, computed distributed
    * off the sparse influence store:
    * `Cov(att_a, att_b) = sum_i inf_ia * inf_ib / n^2`.
    *
    * Scale shape: one self-equi-join of the IF table on the unit id —
    * each unit's <= K influence rows (K = #cells, tiny) expand to <= K^2
    * pairs map-side, then a partial-combined hash aggregate reduces them
    * to the K(K+1)/2 upper-triangle entries. The shuffle carries only
    * per-partition K^2-row partials, never anything proportional to the
    * unit count. Columns: `c1`, `c2` (cell indices, c1 <= c2), `cov`.
    */
  def vcov(f: AttGtFit): DataFrame = {
    val n = f.pp.n.toDouble
    val a = f.ifTable.select(col("rowid"),
      col("cell").as("c1"), col("inf").as("i1"))
    val b = f.ifTable.select(col("rowid"),
      col("cell").as("c2"), col("inf").as("i2"))
    a.join(b, "rowid")
      .filter(col("c1") <= col("c2"))
      .groupBy("c1", "c2")
      .agg((sum(col("i1") * col("i2")) / (n * n)).as("cov"))
  }

  /** @param w    Wald statistic `att_pre' V_pre^-1 att_pre`
    * @param pval upper-tail chi-square(df) probability of `w`
    * @param df   retained pre-treatment cells (degenerate dims dropped)
    * @param cells the retained cells, aligned with `att`
    */
  final case class WaldResult(w: Double, pval: Double, df: Int,
      cells: Vector[CellDef], att: Vector[Double])

  /** Wald test of H0: ATT(g,t) = 0 for every pre-treatment cell
    * (t < g). `W = att_pre' Var(att_pre)^-1 att_pre ~ chi2(K_pre)`
    * under H0; a small p-value flags differential pre-trends that
    * invalidate the parallel-trends assumption.
    *
    * The only distributed work is [[vcov]] (filtered to pre cells);
    * the K_pre x K_pre solve is driver-side breeze — K_pre is the cell
    * count, never data-sized. Degenerate dimensions (variance below
    * [[Stats.DegenerateTol]]) are dropped before inverting, mirroring
    * the reference's bootstrap degenerate-dim drop
    * (`/root/reference/csdids/mboot.py:121`).
    */
  /** Fail-fast bound on the driver-side pre-cell system (SURVEY §7.4:
    * "if |tlist|·|glist| explodes, fail fast"): the Wald path holds a
    * dense K_pre² covariance and pays a K_pre³ solve ON THE DRIVER.
    * 5000 pre-cells = 200 MB dense + ~10¹¹ flops — past that the right
    * fix is a coarser grid, not a bigger driver. The round-8 grid
    * measurement in BENCH_NOTES.md (K 36 -> 390 cells at fixed rows,
    * Wald wall-time exponent 0.10 in K) covers the sane regime; this
    * guard covers the insane one. */
  private val MaxPreCells = 5000

  def wald(f: AttGtFit): WaldResult = {
    val pre = f.cells
      .filter(c => !c.zeroCell && !f.skipped(c.idx) && c.tn < c.g)
    require(pre.nonEmpty, "no pre-treatment cells to test")
    require(pre.length <= MaxPreCells,
      s"${pre.length} pre-treatment cells: the Wald pre-test inverts a " +
        s"dense K_pre x K_pre covariance driver-side (cap $MaxPreCells). " +
        "Coarsen the time grain or test a cohort subset.")
    val idx = pre.map(_.idx)
    val pos = idx.zipWithIndex.toMap
    val k = idx.length
    val v = DenseMatrix.zeros[Double](k, k)
    vcov(f)
      .filter(col("c1").isInCollection(idx) && col("c2").isInCollection(idx))
      .collect()
      .foreach { r =>
        val i = pos(r.get(0).asInstanceOf[Number].intValue)
        val j = pos(r.get(1).asInstanceOf[Number].intValue)
        val c = r.getDouble(2)
        v(i, j) = c
        v(j, i) = c
      }
    val keep = (0 until k).filter(i => v(i, i) > Stats.DegenerateTol)
    require(keep.nonEmpty, "all pre-treatment cells degenerate")
    val vk = v(keep, keep).toDenseMatrix
    val attv = DenseVector(keep.map(i => f.att(idx(i))).toArray)
    val w = attv dot (inv(vk) * attv)
    val df = keep.length
    val pval = 1.0 - new ChiSquaredDistribution(df.toDouble)
      .cumulativeProbability(w)
    WaldResult(w, pval, df,
      keep.map(i => pre(i)).toVector, keep.map(i => f.att(idx(i))).toVector)
  }
}
