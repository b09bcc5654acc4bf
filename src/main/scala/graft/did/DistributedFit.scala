package graft.did

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import breeze.linalg.{inv, DenseMatrix, DenseVector}

/** What the two distributed covariate fits, [[DistributedRc]] and
  * [[DistributedPanel]], share: the per-cell stat pass and its readers,
  * the row-dot-constant column, the Newton-IRLS propensity core and the
  * IF-table finish. Each fit keeps only its own pass-0 columns, moments
  * and influence-function expression. */
private[did] object DistributedFit {

  /** (att, post, skipped, IF table, per-cell sum of squared IFs) */
  type Result = (Array[Double], Array[Int], Array[Boolean], DataFrame,
    Option[Array[Double]])

  private val MaxP = 16

  def supports(estMethod: String, p: Int): Boolean =
    Set("dr", "reg", "ipw").contains(estMethod) && p <= MaxP

  /** IRLS stops when the just-APPLIED Newton step is below this. Newton
    * is quadratically convergent here, so the step criterion overshoots:
    * 1e-10 lands gamma at machine precision (the final pass's steps
    * measure 1e-16..1e-18). It costs one scan versus the earlier 1e-7,
    * but the tight stop is what lets `q_att_gt_cov`'s analytic SE be
    * pinned at 6dp against the INDEPENDENT numpy fixture
    * (scripts/gen_attgt_cov_fixture.py): high-leverage odds weights
    * amplify residual gamma error ~1e-14 into ~5e-5 absolute SE wiggle
    * at 1e-7, which straddled the 6dp round on 3 of 54 fixture cells.
    * Must match [[CellEstimators.logisticIrls]]'s default so the
    * distributed and collect paths run identical iterates. */
  val IrlsTol = 1e-10

  /** One `groupBy(cell)` pass collected to a cell -> row map. */
  def perCell(df: DataFrame, aggs: Seq[Column]): Map[Int, Row] =
    df.groupBy("cell").agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getInt(0) -> r).toMap

  /** Per-cell stat rows read by column name: symmetric p x p blocks from
    * their upper-triangle columns `prefix_j_k`, p-vectors from
    * `prefix_j`. */
  final class CellRows(rows: Map[Int, Row], p: Int) {
    private def d(i: Int, name: String): Double =
      rows(i).getDouble(rows(i).fieldIndex(name))
    def gram(i: Int, prefix: String): DenseMatrix[Double] = {
      val m = DenseMatrix.zeros[Double](p, p)
      for (j <- 0 until p; k <- j until p) {
        val v = d(i, s"${prefix}_${j}_$k"); m(j, k) = v; m(k, j) = v
      }
      m
    }
    def vec(i: Int, prefix: String): DenseVector[Double] =
      DenseVector.tabulate(p)(j => d(i, s"${prefix}_$j"))

    /** Pass 0's estimable cells: present, and accepted by `ok`. Records
      * each present cell's row count and mean weight (pass-0 columns 1
      * and 2) and marks every other estimated cell skipped. */
    def liveCells(cells: Vector[CellDef], skipped: Array[Boolean],
        nRows: Array[Long], meanW: Array[Double])(ok: Row => Boolean)
        : Vector[Int] =
      cells.filterNot(_.zeroCell).map(_.idx).filter { i =>
        rows.get(i) match {
          case None => skipped(i) = true; false
          case Some(r) =>
            nRows(i) = r.getLong(1)
            meanW(i) = r.getDouble(2) / r.getLong(1)
            val good = ok(r)
            if (!good) skipped(i) = true
            good
        }
      }
  }

  /** The row's covariates dotted with a per-cell constant array column. */
  def dotArr(covs: Seq[String], arr: Column): Column =
    covs.indices.map(j => col(covs(j)) * element_at(arr, j + 1))
      .reduce(_ + _)

  /** Newton-IRLS for each cell's logistic propensity of `dd` on the
    * covariates, row weights `w1 / mw`. `first(i)` is cell i's Hessian
    * and gradient at gamma = 0, which both fits fold into their pass 0
    * (mu = 1/2 makes them pure moments); every later Newton step is one
    * `groupBy(cell)` pass over the rows of the cells still moving, with
    * the per-cell constants joined by [[CellConsts]]. The 1e-12 diagonal
    * ridge keeps a separated cell's Hessian invertible. Returns gamma per
    * cell (zero outside `cells`) and each cell's inverse of its last
    * Hessian over its row count. */
  def propensity(lf: DataFrame, covs: Seq[String], cells: Seq[Int],
      meanW: Array[Double], nRows: Array[Long],
      first: Int => (DenseMatrix[Double], DenseVector[Double]))
      : (Array[DenseVector[Double]], Map[Int, DenseMatrix[Double]]) = {
    val p = covs.length
    def xj(j: Int): Column = col(covs(j))
    val gamma = Array.fill(meanW.length)(DenseVector.zeros[Double](p))
    var lastHess = Map.empty[Int, DenseMatrix[Double]]
    var pending = cells
    var iter = 0
    while (iter < 50 && pending.nonEmpty) {
      val hessGrad: Int => (DenseMatrix[Double], DenseVector[Double]) =
        if (iter == 0) first
        else {
          val iw = col("w1") / col("mw")
          val mu = lit(1.0) / (lit(1.0) + exp(-dotArr(covs, col("gam"))))
          val s = iw * mu * (lit(1.0) - mu)
          val z = iw * (col("dd") - mu)
          val aggs =
            (for (j <- 0 until p; k <- j until p)
              yield sum(s * xj(j) * xj(k)).as(s"h_${j}_$k")) ++
            (0 until p).map(j => sum(z * xj(j)).as(s"g_$j"))
          val rows = new CellRows(perCell(
            CellConsts.withConsts(lf, pending, Seq(
              "mw" -> (i => meanW(i)),
              "gam" -> (i => gamma(i).toArray.toSeq))), aggs), p)
          i => (rows.gram(i, "h"), rows.vec(i, "g"))
        }
      pending = pending.filter { i =>
        val (h, g) = hessGrad(i)
        for (j <- 0 until p) h(j, j) = math.max(h(j, j), 1e-12)
        val step = h \ g
        gamma(i) = if (iter == 0) step else gamma(i) + step
        lastHess += i -> h
        breeze.linalg.max(step.map(math.abs)) > IrlsTol
      }
      iter += 1
    }
    (gamma, lastHess.map { case (i, h) => i -> inv(h /:/ nRows(i).toDouble) })
  }

  /** A fit whose cells are all skipped: drops `lf`, no IF entries. */
  def noLiveCells(lf: DataFrame, narrow: ShuffleNarrow, att: Array[Double],
      post: Array[Int], skipped: Array[Boolean]): Result = {
    val spark = lf.sparkSession
    import spark.implicits._
    lf.unpersist()
    narrow.restore()
    (att, post, skipped,
      Seq.empty[(String, Int, Double)].toDF("rowid", "cell", "inf"),
      Some(Array.fill(att.length)(0.0)))
  }

  /** Materializes the IF table off the cached `lf` before dropping it —
    * the caller's persist of the table is lazy, so unpersisting first
    * would force one more uncached grid-join execution. The
    * materializing action doubles as the analytic-SE aggregation (sum of
    * squared IFs per cell), so the caller pays no extra pass. */
  def finishIf(lf: DataFrame, narrow: ShuffleNarrow, att: Array[Double],
      post: Array[Int], skipped: Array[Boolean], ifRows: DataFrame)
      : Result = {
    ifRows.persist(StorageLevel.MEMORY_AND_DISK)
    val seSS = Array.fill(att.length)(0.0)
    ifRows.groupBy("cell").agg(sum(col("inf") * col("inf")).as("ss"))
      .collect().foreach(r => seSS(r.getInt(0)) = r.getDouble(1))
    lf.unpersist()
    narrow.restore()
    (att, post, skipped, ifRows, Some(seSS))
  }
}
