package graft.did

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Aggregation of the ATT(g,t) surface (`compute_aggte`,
  * `csdids/ATTgt.py:519-878`): `simple`, `group` (cohort), `calendar`,
  * plus `dynamic` (event study) — accepted-but-unimplemented in the
  * reference (SURVEY.md §2.9), implemented here as a flagged extension
  * with the R `did` package semantics.
  *
  * Influence-function algebra runs in one of two tiers, chosen once in
  * [[prepare]]:
  *
  *  - driver tier: when the fit's IF table has at most
  *    [[MBoot.MaxDriverEntries]] entries, `prepare` collects it once
  *    into primitive arrays (with the per-unit `wbar`, `gbar`), like the
  *    reference's driver-side NumPy products (`csdids/utils_aggte.py:38-66`).
  *    Every family then sweeps those arrays unit by unit and computes its
  *    SEs, bootstrap and sup-t band without a Spark job;
  *  - distributed tier (larger tables): each family is one join+groupBy
  *    pass over the sparse long-form IF table, and only K-sized vectors
  *    reach the driver.
  *
  * Both tiers produce the same (unit, member) rows and the same bootstrap
  * sign stream, so they agree to summation order (`AggteTierSpec`).
  * The weight-estimation influence (`wif`, `csdids/utils_aggte.py:7-36`)
  * reduces to a per-unit closed form
  * `wbar * (attW(gbar)/S - c2 * cnt(gbar))` over small cohort->coefficient
  * maps, not a matrix product.
  *
  * Intended-semantics notes (SURVEY.md §7.5): the reference's overall
  * `group` wif indexes cohorts through the first nG cells
  * (`csdids/ATTgt.py:745-749`) — we use glist, the R `did` semantics.
  * Group per-cohort point estimates are UNWEIGHTED means of ATT(g,t) but
  * their IFs are pg-weighted, exactly as in the reference (`:694,701`).
  */
object Aggte {

  final case class Prep(
      fit: AttGtFit,
      units: DataFrame,      // rowid (string), wbar, gbar — persisted small
      group: Array[Double],  // recoded per-cell cohort index
      t: Array[Double],      // recoded per-cell period index
      glist: Array[Double],  // recoded cohorts
      tlistR: Array[Double], // recoded periods present in cells
      origGlist: Array[Double],
      pgByCohort: Map[Double, Double], // original cohort -> pg
      pg: Array[Double],     // per-cell pg
      origCohortOfCell: Array[Double],
      n: Long,
      cellIds: Array[Int],   // position -> ifTable cell id (na_rm shifts)
      attCell: Array[Double],
      naRm: Boolean) {
    def att(k: Int): Double = attCell(k)

    /** The driver tier's copy of the IF table, set by [[prepare]] when the
      * table is under the cap. `None` (also on a `copy`) keeps every
      * family on the distributed tier. */
    private[did] var local: Option[LocalIF] = None
  }

  /** The fit's IF table on the driver, in CSR form over the units sorted
    * by rowid string (the order MBoot's driver tier draws signs in):
    * unit u owns entries `unitStart(u) until unitStart(u + 1)`, in cell
    * order, so every sweep is independent of the collect order. */
  private[did] final class LocalIF(
      val unitStart: Array[Int],
      val cell: Array[Int],    // ifTable cell id
      val inf: Array[Double],
      val wbar: Array[Double], // per unit; 0 for a unit missing from `units`
      val gbar: Array[Double]) {
    def nUnits: Int = wbar.length
  }

  /** `naRm` drops cells whose ATT estimate is NaN before aggregating
    * (`csdids/ATTgt.py:565-590`); without it any NaN raises, like the
    * reference. Skipped-degenerate cells carry att=0 (reference
    * `add_att_data()` default) and are NOT pruned. */
  def prepare(fit: AttGtFit, naRm: Boolean = false): Prep =
    prepare(fit, naRm, MBoot.MaxDriverEntries)

  /** [[prepare]] with the driver tier's cap; 0 forces the distributed
    * tier. */
  private[did] def prepare(fit: AttGtFit, naRm: Boolean,
      maxDriverEntries: Long): Prep = {
    val pp = fit.pp
    // Per-unit weights and cohort (`csdids/ATTgt.py:591-601`).
    val units0 =
      if (pp.panel)
        pp.df.filter(col("tt") === pp.tlist.head)
          .select(col("rowid").cast("string").as("rowid"),
            col("w1").as("wbar"), col("gg").as("gbar"))
      else
        pp.df.groupBy(col("rowid").cast("string").as("rowid"))
          .agg(avg("w1").as("wbar"), avg("gg").as("gbar"))
    val units = units0.persist()

    // na_rm pruning (`csdids/ATTgt.py:565-590`) or NaN rejection.
    val keep = fit.cells.indices.filter(i => !fit.att(i).isNaN).toArray
    if (!naRm && keep.length != fit.cells.length)
      throw new IllegalArgumentException(
        "Missing values at att_gt found. If you want to remove these, set naRm = true.")

    // orig2t recode (`csdids/ATTgt.py:604-629`).
    val origCohort = keep.map(i => fit.cells(i).g)
    val origT = keep.map(i => fit.cells(i).tn)
    val attCell = keep.map(fit.att)
    val gtlist = (pp.tlist ++ pp.glist).distinct.sorted
    val orig2t = gtlist.zipWithIndex.map { case (v, i) => v -> i.toDouble }.toMap
    val group = origCohort.map(orig2t)
    val t = origT.map(orig2t)
    val keptCohorts = origCohort.distinct.sorted.toSeq
    val glist = pp.glist.filter(keptCohorts.contains).map(orig2t).toArray
    val tlistR = t.distinct.sorted

    // pg: cohort probability weights pg[g] = mean(wbar * 1{gbar==g})
    // (`csdids/ATTgt.py:637-646`) — summed in unit order over the local
    // arrays, or in one groupBy pass. One generated agg column per cohort
    // would be the same single pass but blows up codegen at many cohorts
    // (10k cohorts = 10k expressions).
    val n = pp.n
    val local =
      if (MBoot.driverTier(fit.ifTable.count(), maxDriverEntries))
        Some(collectLocal(fit.ifTable, units))
      else None
    val sums: collection.Map[Double, Double] = local match {
      case Some(l) =>
        val m = collection.mutable.HashMap.empty[Double, Double]
        var u = 0
        while (u < l.nUnits) {
          if (!l.gbar(u).isNaN)
            m(l.gbar(u)) = m.getOrElse(l.gbar(u), 0.0) + l.wbar(u)
          u += 1
        }
        m
      case None =>
        units.groupBy("gbar").agg(sum("wbar").as("sw")).collect()
          .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    }
    val pgByCohort =
      pp.glist.map(g => g -> sums.getOrElse(g, 0.0) / n).toMap
    val pg = origCohort.map(pgByCohort)
    val origGlist = pp.glist.filter(keptCohorts.contains).toArray

    val p = Prep(fit, units, group, t, glist, tlistR, origGlist,
      pgByCohort, pg, origCohort, n, keep, attCell, naRm)
    p.local = local
    p
  }

  /** Collects the IF table and the per-unit weights into a [[LocalIF]]:
    * two jobs. Rowids compare as strings, as in the distributed family
    * table, whose union with `units` casts them to string. */
  private def collectLocal(ifTable: DataFrame, units: DataFrame): LocalIF = {
    val entries = ifTable
      .select(col("rowid").cast("string"), col("cell"), col("inf")).collect()
    val perUnit = units.select("rowid", "wbar", "gbar").collect()
    val ids = (perUnit.iterator.map(_.getString(0)) ++
      entries.iterator.map(_.getString(0))).toArray.distinct.sorted
    val rank = ids.zipWithIndex.toMap
    val nU = ids.length
    val wbar = new Array[Double](nU)
    val gbar = Array.fill(nU)(Double.NaN)
    perUnit.foreach { r =>
      val u = rank(r.getString(0))
      wbar(u) = r.getDouble(1)
      gbar(u) = r.getDouble(2)
    }
    val unitOf = entries.map(r => rank(r.getString(0)))
    val cellOf = entries.map(_.getInt(1))
    // two stable counting sorts, by cell then by unit, put the entries
    // in (unit, cell) order
    val (byCell, _) =
      countingSort(cellOf, cellOf.foldLeft(0)(math.max) + 1, entries.indices.toArray)
    val (order, unitStart) = countingSort(unitOf, nU, byCell)
    new LocalIF(unitStart, order.map(cellOf), order.map(entries(_).getDouble(2)),
      wbar, gbar)
  }

  /** Stable counting sort of the indices `in` by `key(i)` in
    * `0 until nKeys`: the sorted indices and each key's start offset
    * (length `nKeys + 1`). */
  private def countingSort(key: Array[Int], nKeys: Int, in: Array[Int])
      : (Array[Int], Array[Int]) = {
    val start = new Array[Int](nKeys + 1)
    in.foreach(i => start(key(i) + 1) += 1)
    (0 until nKeys).foreach(k => start(k + 1) += start(k))
    val next = start.clone()
    val out = new Array[Int](in.length)
    in.foreach { i => out(next(key(i))) = i; next(key(i)) += 1 }
    (out, start)
  }

  /** wif coefficients for one aggregation over `keepers`
    * (`get_weight_influence_aggregate`, `csdids/utils_aggte.py:7-36`):
    * the per-unit weight-estimation influence reduces to
    * `wbar * coef(gbar)` with `coef(g) = attW(g)/s - c2 * cnt(g)` —
    * a tiny cohort->coefficient map, not a matrix product. */
  private def wifCoefFor(p: Prep, keepers: Seq[Int]): Map[Double, Double] = {
    val s = keepers.map(p.pg).sum
    val byG = keepers.groupBy(k => p.origCohortOfCell(k))
    val c2 = keepers.map(k => p.att(k) * p.pg(k)).sum / (s * s)
    byG.map { case (g, ks) =>
      g -> (ks.map(k => p.att(k)).sum / s - c2 * ks.size)
    }
  }

  /** Family of aggregated per-unit influence functions, ONE pass for all
    * members (`get_agg_inf_func`, `utils_aggte.py:38-50`, batched):
    * member m has `IF_m(unit) = sum_cells wt*inf + wbar*coef_m(gbar)`.
    * Returns long-form (rowid, midx, v); units touched only by the wif
    * term still appear (union-aggregate, no outer join needed). */
  private def familyIF(p: Prep,
      cellWts: Seq[(Int, Int, Double)],      // (cell, midx, wt)
      wifCoefs: Seq[(Int, Double, Double)])  // (midx, cohort g, coef)
      : DataFrame = {
    val spark = p.fit.ifTable.sparkSession
    import spark.implicits._
    // positions -> ifTable cell ids (differ after na_rm pruning)
    val wdf = cellWts.map { case (k, m, w) => (p.cellIds(k), m, w) }
      .toDF("cell", "midx", "wt")
    // ONE shuffle keyed (rowid, midx): the raw weighted-IF rows union
    // the wif rows BEFORE the aggregation — a pre-aggregated base would
    // shuffle the same data twice on the same keys.
    val base = p.fit.ifTable.join(broadcast(wdf), "cell")
      .select(col("rowid"), col("midx"), (col("inf") * col("wt")).as("v"))
    val rows =
      if (wifCoefs.isEmpty) base
      else {
        val cdf = wifCoefs.toDF("midx", "cg", "coef")
        val wifRows = p.units.join(broadcast(cdf), col("gbar") === col("cg"))
          .select(col("rowid"), col("midx"),
            (col("wbar") * col("coef")).as("v"))
        base.union(wifRows)
      }
    rows.groupBy("rowid", "midx").agg(sum("v").as("v"))
      .select("rowid", "midx", "v")
  }

  /** [[familyIF]]'s rows on the driver, ordered by unit rank then member:
    * `unit` ranks index the sorted rowid strings. */
  private final class FamilySums(val unit: Array[Int], val member: Array[Int],
      val v: Array[Double])

  /** The driver twin of [[familyIF]]: sweeps the local IF unit by unit.
    * A (unit, member) row exists when the unit has an entry in one of the
    * member's cells or a wif coefficient for its `gbar` — the distributed
    * groupBy's row set, which fixes the units the bootstrap draws signs
    * for. `None` when the family has more rows than
    * [[MBoot.MaxDriverEntries]]: the distributed tier's bootstrap would
    * leave the driver there, so this family does too. */
  private def contract(p: Prep, l: LocalIF, cellWts: Seq[(Int, Int, Double)],
      wifCoefs: Seq[(Int, Double, Double)], nMembers: Int)
      : Option[FamilySums] = {
    val byCell = cellWts.groupBy(w => p.cellIds(w._1))
    val cellM = Array.tabulate(p.fit.cells.length)(c =>
      byCell.get(c).fold(Array.emptyIntArray)(_.map(_._2).toArray))
    val cellW = Array.tabulate(p.fit.cells.length)(c =>
      byCell.get(c).fold(Array.emptyDoubleArray)(_.map(_._3).toArray))
    val byCohort = wifCoefs.groupBy(_._2).map { case (g, cs) =>
      g -> (cs.map(_._1).toArray, cs.map(_._3).toArray)
    }
    val acc = new Array[Double](nMembers)
    val hit = new Array[Boolean](nMembers)
    // one pass counts the rows, a second (only under the cap) fills them
    def sweep(out: Option[FamilySums]): Long = {
      var rows = 0L
      var u = 0
      while (u < l.nUnits) {
        var e = l.unitStart(u)
        while (e < l.unitStart(u + 1)) {
          val ms = cellM(l.cell(e))
          val ws = cellW(l.cell(e))
          var j = 0
          while (j < ms.length) {
            acc(ms(j)) += l.inf(e) * ws(j); hit(ms(j)) = true; j += 1
          }
          e += 1
        }
        byCohort.get(l.gbar(u)).foreach { case (ms, cs) =>
          var j = 0
          while (j < ms.length) {
            acc(ms(j)) += l.wbar(u) * cs(j); hit(ms(j)) = true; j += 1
          }
        }
        var m = 0
        while (m < nMembers) {
          if (hit(m)) {
            out.foreach { s =>
              s.unit(rows.toInt) = u; s.member(rows.toInt) = m
              s.v(rows.toInt) = acc(m)
            }
            rows += 1
            acc(m) = 0.0; hit(m) = false
          }
          m += 1
        }
        u += 1
      }
      rows
    }
    val rows = sweep(None)
    if (!MBoot.driverTier(rows, MBoot.MaxDriverEntries)) None
    else {
      val s = new FamilySums(new Array[Int](rows.toInt),
        new Array[Int](rows.toInt), new Array[Double](rows.toInt))
      sweep(Some(s))
      Some(s)
    }
  }

  /** Bootstrap over the driver rows of members `0 until k`, units re-ranked
    * among those present — the driver twin of `MBoot.run` on the
    * distributed family table filtered to `midx < k`. */
  private def bootstrap(p: Prep, s: FamilySums, k: Int): MBootResult = {
    val cfg = p.fit.pp.config
    val nRows = s.member.count(_ < k)
    val uIx = new Array[Int](nRows)
    val cIx = new Array[Int](nRows)
    val infs = new Array[Double](nRows)
    var nU = 0
    var last = -1
    var j = 0
    s.member.indices.foreach { i =>
      if (s.member(i) < k) {
        if (s.unit(i) != last) { last = s.unit(i); nU += 1 }
        uIx(j) = nU - 1; cIx(j) = s.member(i); infs(j) = s.v(i)
        j += 1
      }
    }
    MBoot.runArrays(uIx, cIx, infs, nU, k, p.n, cfg.biters, cfg.alp,
      cfg.seed)
  }

  /** Per-member SEs of one family (`get_se`, `utils_aggte.py:53-66`):
    * analytic `sqrt(sum IF^2)/n`, or one COMBINED seeded multiplier
    * bootstrap (per-member IQR SEs are column-independent, so one run over
    * all members is statistically identical to the reference's per-column
    * calls). With `band = Some(m)`, also the clamped sup-t critical value
    * over members `0 until m`; the pointwise z otherwise. */
  private def familyStats(p: Prep, cellWts: Seq[(Int, Int, Double)],
      wifCoefs: Seq[(Int, Double, Double)], nMembers: Int, bs: Boolean,
      band: Option[Int]): (Array[Double], Double) = {
    val cfg = p.fit.pp.config
    val (se, crit) =
      p.local.flatMap(contract(p, _, cellWts, wifCoefs, nMembers)) match {
        case Some(s) =>
          val se =
            if (bs) bootstrap(p, s, nMembers).se
            else {
              val ss = new Array[Double](nMembers)
              val present = new Array[Boolean](nMembers)
              s.member.indices.foreach { i =>
                ss(s.member(i)) += s.v(i) * s.v(i)
                present(s.member(i)) = true
              }
              Array.tabulate(nMembers)(m =>
                if (present(m)) math.sqrt(ss(m)) / p.n else Double.NaN)
            }
          (se, band.map(bootstrap(p, s, _).critVal))
        case None =>
          val fam = familyIF(p, cellWts, wifCoefs).persist()
          def boot(df: DataFrame, k: Int): MBootResult = MBoot.run(
            df.select(col("rowid"), col("midx").as("cell"), col("v").as("inf")),
            k, p.n, cfg.biters, cfg.alp, cfg.seed)
          try {
            val se =
              if (bs) boot(fam, nMembers).se
              else {
                val out = Array.fill(nMembers)(Double.NaN)
                fam.groupBy("midx").agg(sum(col("v") * col("v")).as("ss"))
                  .collect()
                  .foreach(r => out(r.getInt(0)) = math.sqrt(r.getDouble(1)) / p.n)
                out
              }
            (se, band.map(m => boot(fam.filter(col("midx") < m), m).critVal))
          } finally { fam.unpersist(); () }
      }
    val z = Stats.normPpf(1 - cfg.alp / 2)
    (se.map(x => if (x <= Stats.DegenerateTol) Double.NaN else x),
      crit.fold(z)(clampCritVal(_, z)))
  }

  def simple(p: Prep, maxE: Double = Double.PositiveInfinity,
      bstrap: Option[Boolean] = None): AggteResult = {
    val bs = bstrap.getOrElse(p.fit.bstrap)
    val keepers = p.group.indices
      .filter(i => p.group(i) <= p.t(i) && p.t(i) <= p.group(i) + maxE)
    val s = keepers.map(p.pg).sum
    val att = keepers.map(k => p.att(k) * p.pg(k)).sum / s
    val se = familyStats(p,
      keepers.map(k => (k, 0, p.pg(k) / s)),
      wifCoefFor(p, keepers).toSeq.map { case (g, c) => (0, g, c) }, 1, bs,
      None)._1(0)
    AggteResult("simple", att, se, Nil, Nil, Nil,
      Stats.normPpf(1 - p.fit.pp.config.alp / 2), p.fit.pp.config.alp)
  }

  /** Sup-t critical-value clamps, reference parity
    * (`csdids/ATTgt.py:727-740`): NaN/inf -> pointwise, below-pointwise ->
    * pointwise, and >= 7 kept but flagged as unreliable. */
  private[did] def clampCritVal(c: Double, z: Double): Double =
    if (c.isNaN || c.isInfinite) {
      System.err.println(
        "[graft.did] Simultaneous critical value is NA (std errors may be " +
          "NA); reporting pointwise confidence intervals.")
      z
    } else if (c < z) {
      System.err.println(
        "[graft.did] Simultaneous conf. band is smaller than the pointwise " +
          "one; reporting pointwise confidence intervals.")
      z
    } else {
      if (c >= 7)
        System.err.println(
          "[graft.did] Simultaneous critical value is arguably 'too large' " +
            "to be reliable. This usually happens when the number of " +
            "observations per group is small and/or there is not much " +
            "variation in outcomes.")
      c
    }

  def group(p: Prep, maxE: Double = Double.PositiveInfinity,
      bstrap: Option[Boolean] = None, cband: Option[Boolean] = None)
      : AggteResult = {
    val cfg = p.fit.pp.config
    val bs = bstrap.getOrElse(p.fit.bstrap)
    val cb = cband.getOrElse(p.fit.pp.cband)
    val nG = p.origGlist.length

    // per-cohort members 0..nG-1 (`selective_inf_func_g`,
    // `csdids/ATTgt.py:698-715`): pg-weighted cell IFs, no wif
    val perG = p.origGlist.indices.map { gi =>
      val g = p.glist(gi)
      val which = p.group.indices.filter(i =>
        p.group(i) == g && p.t(i) >= g && p.t(i) <= p.group(i) + maxE)
      (gi, which, which.map(p.pg).sum)
    }
    val attEgt = perG.map { case (_, which, _) =>
      which.map(p.att).sum / which.size
    }.toArray

    // overall member nG: pgg-weighted mean of cohort IFs + cohort-level
    // wif (`csdids/ATTgt.py:717-760` intended semantics, SURVEY.md §7.5)
    val pgg = p.origGlist.map(p.pgByCohort)
    val sAll = pgg.sum
    val overallAtt =
      p.origGlist.indices.map(i => attEgt(i) * pgg(i)).sum / sAll
    val c2 = p.origGlist.indices.map(i => attEgt(i) * pgg(i)).sum /
      (sAll * sAll)
    val overallWts = perG.flatMap { case (gi, which, s) =>
      which.map(k => (k, nG, p.pg(k) / s * pgg(gi) / sAll))
    }
    val overallWif = p.origGlist.indices.map(gi =>
      (nG, p.origGlist(gi), attEgt(gi) / sAll - c2))

    val cellWts = perG.flatMap { case (gi, which, s) =>
      which.map(k => (k, gi, p.pg(k) / s))
    } ++ overallWts
    val (ses, critEgt) = familyStats(p, cellWts, overallWif, nG + 1, bs,
      Option.when(cb)(nG))
    AggteResult("group", overallAtt, ses(nG), p.origGlist.toSeq,
      attEgt.toSeq, ses.take(nG).toSeq, critEgt, cfg.alp)
  }

  def calendar(p: Prep, bstrap: Option[Boolean] = None,
      cband: Option[Boolean] = None): AggteResult = {
    val cfg = p.fit.pp.config
    val bs = bstrap.getOrElse(p.fit.bstrap)
    val cb = cband.getOrElse(p.fit.pp.cband)

    val minG = p.group.min
    val calT = p.tlistR.toSeq.filter(_ >= minG)
    val gtlist = (p.fit.pp.tlist ++ p.fit.pp.glist).distinct.sorted
    def t2orig(r: Double): Double = gtlist(r.toInt)
    val nT = calT.length

    val perT = calT.map { t1 =>
      val which = p.t.indices.filter(i => p.t(i) == t1 && p.group(i) <= p.t(i))
      val s = which.map(p.pg).sum
      val att = which.map(k => p.att(k) * p.pg(k)).sum / s
      (t1, which, s, att)
    }

    // per-period members 0..nT-1 with wif (`csdids/ATTgt.py:798-812`);
    // overall member nT = unweighted mean over periods (`:814-818`)
    val cellWts = perT.zipWithIndex.flatMap { case ((_, which, s, _), ti) =>
      which.map(k => (k, ti, p.pg(k) / s))
    } ++ perT.zipWithIndex.flatMap { case ((_, which, s, _), _) =>
      which.map(k => (k, nT, p.pg(k) / s / nT))
    }
    val perTWif = perT.zipWithIndex.map { case ((_, which, _, _), ti) =>
      ti -> wifCoefFor(p, which)
    }
    val wifCoefs = perTWif.flatMap { case (ti, m) =>
      m.toSeq.map { case (g, c) => (ti, g, c) }
    } ++ perTWif.flatMap(_._2.toSeq)
      .groupBy(_._1)
      .map { case (g, cs) => (nT, g, cs.map(_._2).sum / nT) }

    val (ses, critEgt) = familyStats(p, cellWts, wifCoefs, nT + 1, bs,
      Option.when(cb)(nT))
    val overallAtt = perT.map(_._4).sum / nT
    AggteResult("calendar", overallAtt, ses(nT), perT.map(t => t2orig(t._1)),
      perT.map(_._4), ses.take(nT).toSeq, critEgt, cfg.alp)
  }

  /** Event-study aggregation — EXTENSION: validated-but-unimplemented in
    * the reference (`csdids/ATTgt.py:559-560`, SURVEY.md §2.9). R `did`
    * semantics: per event time e = t - g, pg-weighted mean of ATT(g,t);
    * overall = unweighted mean over e >= 0.
    *
    * `balanceE` (R `did`'s balance_e): restrict to cohorts observed for
    * at least `balanceE` post-treatment periods and clip the event
    * window to e <= balanceE — the post-treatment composition is then
    * constant across event times, so the dynamic profile is not
    * confounded by cohorts entering/leaving the sample.
    * `cband` draws the sup-t simultaneous band over event times with
    * the reference's crit-val clamps. */
  def dynamic(p: Prep, minE: Double = Double.NegativeInfinity,
      maxE: Double = Double.PositiveInfinity,
      balanceE: Option[Double] = None,
      bstrap: Option[Boolean] = None,
      cband: Option[Boolean] = None): AggteResult = {
    val cfg = p.fit.pp.config
    val bs = bstrap.getOrElse(p.fit.bstrap)
    val cb = cband.getOrElse(p.fit.pp.cband)

    // balanced-composition restriction: cohorts whose last observed
    // event time reaches balanceE, window clipped to [minE', balanceE]
    val (keepIdx, effMaxE) = balanceE match {
      case None => (p.t.indices.toIndexedSeq, maxE)
      case Some(be) =>
        val lastE = p.t.indices.groupBy(i => p.group(i))
          .map { case (g, is) => g -> is.map(i => p.t(i) - p.group(i)).max }
        val keep = p.t.indices.filter(i => lastE(p.group(i)) >= be)
        (keep.toIndexedSeq, math.min(maxE, be))
    }

    val eAll = keepIdx.map(i => p.t(i) - p.group(i))
    val eseq = eAll.distinct.sorted.filter(e => e >= minE && e <= effMaxE)
    val nE = eseq.length
    require(nE > 0, "no event times left after minE/maxE/balanceE")
    val perE = eseq.map { e =>
      val which = keepIdx.filter(i => p.t(i) - p.group(i) == e)
      val s = which.map(p.pg).sum
      val att = which.map(k => p.att(k) * p.pg(k)).sum / s
      (e, which, s, att)
    }
    val post = perE.filter(_._1 >= 0)
    val overallAtt = post.map(_._4).sum / post.length
    // overall member nE: mean over post event times of their per-e IFs
    val wOverall = post.flatMap { case (_, which, s, _) =>
      which.map(k => k -> p.pg(k) / s / post.length)
    }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }

    val cellWts = perE.zipWithIndex.flatMap { case ((_, which, s, _), ei) =>
      which.map(k => (k, ei, p.pg(k) / s))
    } ++ wOverall.toSeq.map { case (k, w) => (k, nE, w) }
    val wifCoefs = perE.zipWithIndex.flatMap { case ((_, which, _, _), ei) =>
      wifCoefFor(p, which).toSeq.map { case (g, c) => (ei, g, c) }
    } ++ wifCoefFor(p, wOverall.keys.toSeq)
      .toSeq.map { case (g, c) => (nE, g, c) }

    val (ses, critEgt) = familyStats(p, cellWts, wifCoefs, nE + 1, bs,
      Option.when(cb)(nE))
    AggteResult("dynamic", overallAtt, ses(nE), perE.map(_._1),
      perE.map(_._4), ses.take(nE).toSeq, critEgt, cfg.alp)
  }
}
