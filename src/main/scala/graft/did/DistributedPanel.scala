package graft.did

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import breeze.linalg.{inv, DenseMatrix, DenseVector}

/** Distributed covariate estimation for the balanced-panel regime —
  * companion to [[DistributedRc]] (see its scaladoc for the design),
  * sharing its Newton-IRLS propensity core, pass-0 readers and IF-table
  * finish ([[DistributedFit]]).
  * Operates on the wide per-(cell, unit) frame (y1/y0 pivot) built in
  * AttGt: pass 0 carries the counts PLUS every gamma-independent block
  * (control Δy regression Grams and the first IRLS Newton step at
  * gamma=0), then one Gram pass per remaining Newton step, one moment
  * pass, and the per-row influence function as a closed-form column
  * expression. The
  * reference's n/n1 influence rescale is folded into the final
  * expression. Parity with [[CellEstimators.DrDidPanel]] /
  * [[CellEstimators.RegDidPanel]] / [[CellEstimators.IpwDidPanel]] is
  * asserted in DistributedRcSpec. */
private[did] object DistributedPanel {
  import DistributedFit._

  /** `wide` columns: cell, rid, y1, y0, gg, w1, cg, <covariates>. */
  def fit(pp: PreprocessedPanel, cells: Vector[CellDef], estMethod: String,
      wide: DataFrame): Result = {
    val spark = pp.df.sparkSession
    val covs = pp.config.covariates
    val p = covs.length
    val nCells = cells.length
    val nTotal = pp.n

    // Persisted for the same reason as DistributedRc's lf: every IRLS
    // step plus the Gram/moment/IF passes scan this frame, and `wide`
    // carries a grid join + pivot aggregation in its lineage.
    val lf = wide.select(Seq(col("cell"), col("rid").as("rowid"),
      (col("y1") - col("y0")).as("dy"),
      when(col("gg") === col("cg"), 1.0).otherwise(0.0).as("dd"),
      col("w1")) ++ covs.map(col): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)

    def xj(j: Int): Column = col(covs(j))
    def dotArr(arr: Column): Column = DistributedFit.dotArr(covs, arr)

    // ---- pass 0: counts, treated/control presence, mean weight, AND
    // the gamma-independent Gram/moment blocks (control Δy regression +
    // first IRLS Newton step at gamma=0) — see DistributedRc's pass 0.
    val wT = col("w1") * col("dd")
    val wC = col("w1") * (lit(1.0) - col("dd"))
    val p0Aggs = Seq(
      count(lit(1)).as("n1"), sum("w1").as("sw"),
      sum(col("dd")).as("nT"),
      sum(lit(1.0) - col("dd")).as("nc")) ++
      (for (j <- 0 until p; k <- j until p)
        yield sum(wT * xj(j) * xj(k)).as(s"gxT_${j}_$k")) ++
      (for (j <- 0 until p; k <- j until p)
        yield sum(wC * xj(j) * xj(k)).as(s"gxC_${j}_$k")) ++
      (0 until p).map(j => sum(wC * xj(j) * col("dy")).as(s"gyC_$j")) ++
      (0 until p).map(j => sum(wT * xj(j)).as(s"gvT_$j")) ++
      (0 until p).map(j => sum(wC * xj(j)).as(s"gvC_$j"))
    val p0 = new CellRows(perCell(lf, p0Aggs), p)
    // Every remaining pass reduces to K = #cells rows; a handful of
    // reduce partitions is right at any scale (map-side partial aggs do
    // the work; AQE would coalesce, but it's off here). Set only AFTER
    // pass 0 — ITS action also materializes `lf`, whose lineage carries
    // the rowid-level pivot shuffle that needs data-sized partitioning.
    // Restored on every exit: early on success (the trailing shuffle
    // needs data-sized partitioning), by the finally on exceptions.
    val shuffleNarrow = new ShuffleNarrow(spark, 4)
    try {

    val att = Array.fill(nCells)(0.0)
    val post = Array.fill(nCells)(0)
    val skipped = Array.fill(nCells)(false)
    val n1 = Array.fill(nCells)(0L)
    val meanW = Array.fill(nCells)(1.0)
    // a cell needs both treated and control units
    val live = p0.liveCells(cells, skipped, n1, meanW)(r =>
      !(r.getDouble(3) == 0.0 || r.getDouble(4) == 0.0))
    if (live.isEmpty) return noLiveCells(lf, shuffleNarrow, att, post, skipped)

    // ---- IRLS propensity (dr, ipw; reg fits none), first Newton step
    // from pass 0
    val (gamma, psHessInv) = propensity(lf, covs,
      if (estMethod == "reg") Nil else live, meanW, n1, { i =>
        val mw = meanW(i)
        val h = (p0.gram(i, "gxT") + p0.gram(i, "gxC")) *:* (0.25 / mw)
        (h, (p0.vec(i, "gvT") - ((p0.vec(i, "gvT") + p0.vec(i, "gvC"))
          *:* 0.5)) /:/ mw)
      })

    // ---- control Δy regression, from pass-0 Grams (no extra scan;
    // the iw = w1/mw scaling cancels in the solve)
    val bDelta = Array.fill(nCells)(DenseVector.zeros[Double](p))
    val xtxInvC = Array.fill(nCells)(DenseMatrix.zeros[Double](p, p))
    live.foreach { i =>
      val mw = meanW(i)
      val xtx = p0.gram(i, "gxC") *:* (1.0 / mw)
      val xty = p0.vec(i, "gyC") /:/ mw
      bDelta(i) = xtx \ xty
      xtxInvC(i) = inv(xtx /:/ n1(i).toDouble)
    }

    // ---- moment pass ---------------------------------------------------
    val momConsts: Seq[(String, Int => Any)] = Seq(
      "mw" -> (i => meanW(i)),
      "gam" -> (i => gamma(i).toArray.toSeq),
      "bDel" -> (i => bDelta(i).toArray.toSeq))
    val iw = col("w1") / col("mw")
    val one = lit(1.0)
    def ps: Column =
      least(one / (one + exp(-dotArr(col("gam")))), lit(1 - 1e-16))
    def outDelta: Column = dotArr(col("bDel"))
    def wTreat: Column = iw * col("dd")
    def wCont: Column = estMethod match {
      case "reg" => iw * col("dd")
      case _ => iw * (ps / (one - ps)) * (one - col("dd"))
    }
    def contTarget: Column = estMethod match {
      case "reg" => outDelta
      case "ipw" => col("dy")
      case _ => col("dy") - outDelta
    }
    def treatTarget: Column = estMethod match {
      case "dr" => col("dy") - outDelta
      case _ => col("dy")
    }
    val momAggs = Seq(
      sum(wTreat).as("mwT"), sum(wCont).as("mwC"),
      sum(wTreat * treatTarget).as("numT"),
      sum(wCont * contTarget).as("numC")) ++
      (0 until p).flatMap(j => Seq(
        sum(wTreat * xj(j)).as(s"mT_$j"),
        sum(wCont * xj(j)).as(s"mC_$j"),
        sum(wCont * contTarget * xj(j)).as(s"mCt_$j")))
    val momRows = perCell(CellConsts.withConsts(lf, live, momConsts), momAggs)

    final case class K(etaT: Double, etaC: Double, mwT: Double, mwC: Double,
        uWols: Seq[Double], uPs: Seq[Double])
    val z = Seq.fill(p)(0.0)
    val kk = Array.fill(nCells)(K(0, 0, 1, 1, z, z))
    live.foreach { i =>
      val r = momRows(i)
      val nc = n1(i).toDouble
      def d(ix: Int): Double = r.getDouble(ix) / nc
      val mwT = d(1); val mwC = d(2)
      val etaT = d(3) / mwT; val etaC = d(4) / mwC
      att(i) = etaT - etaC
      post(i) = cells(i).postTreat
      def vec(off: Int): DenseVector[Double] =
        DenseVector.tabulate(p)(j => r.getDouble(5 + 3 * j + off) / nc)
      val mT = vec(0); val mC = vec(1); val mCt = vec(2)
      estMethod match {
        case "dr" =>
          val uWols = xtxInvC(i) * ((mT *:* (-1.0 / mwT)) + (mC *:* (1.0 / mwC)))
          val m2 = mCt - (mC *:* etaC)
          val uPs = psHessInv(i) * (m2 *:* (-1.0 / mwC))
          kk(i) = K(etaT, etaC, mwT, mwC,
            uWols.toArray.toSeq, uPs.toArray.toSeq)
        case "ipw" =>
          val m = mCt - (mC *:* etaC)
          val uPs = psHessInv(i) * (m *:* (-1.0 / mwC))
          kk(i) = K(etaT, etaC, mwT, mwC, z, uPs.toArray.toSeq)
        case _ => // reg: repWols coeff = -colMeansW(wCont)/mwC
          val uWols = xtxInvC(i) * (mC *:* (-1.0 / mwC))
          kk(i) = K(etaT, etaC, mwT, mwC, uWols.toArray.toSeq, z)
      }
    }

    // ---- final pass: per-row IF (with the n/n1 rescale) ----------------
    val ifConsts: Seq[(String, Int => Any)] = momConsts ++ Seq[
        (String, Int => Any)](
      "etaT" -> (i => kk(i).etaT), "etaC" -> (i => kk(i).etaC),
      "mwT" -> (i => kk(i).mwT), "mwC" -> (i => kk(i).mwC),
      "uWols" -> (i => kk(i).uWols), "uPs" -> (i => kk(i).uPs),
      "scale" -> (i => nTotal.toDouble / n1(i)))

    val wolsScore = iw * (one - col("dd")) * (col("dy") - outDelta)
    val psScore = iw * (col("dd") - ps)
    val infBase =
      (wTreat * (treatTarget - col("etaT"))) / col("mwT") -
      (wCont * (contTarget - col("etaC"))) / col("mwC")
    val infNuis = estMethod match {
      case "dr" => wolsScore * dotArr(col("uWols")) + psScore * dotArr(col("uPs"))
      case "ipw" => psScore * dotArr(col("uPs"))
      case _ => wolsScore * dotArr(col("uWols"))
    }
    // (rowid, cell) is UNIQUE here — panelWide already pivoted to one
    // row per (unit, cell) — so the IF table is a pure projection; a
    // groupBy(rowid, cell) would be an identity aggregation costing a
    // full O(rows) shuffle. Its SE sums still run on the narrow
    // partitioning, restored by finishIf.
    finishIf(lf, shuffleNarrow, att, post, skipped,
      CellConsts.withConsts(lf, live, ifConsts)
        .select(col("rowid"), col("cell"),
          ((infBase + infNuis) * col("scale")).as("inf")))
    } finally shuffleNarrow.restore() // no-op unless an exception skipped it
  }
}
