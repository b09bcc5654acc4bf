package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{Row, SparkSession}

import graft.did._

/** The DiD pipeline benchmark, one JVM per run.
  *
  * Generates the workload's panel from the seed, writes it to parquet and
  * drives the public API as an analyst's script does: `read.parquet` ->
  * `Preprocess.run` -> `AttGt.fit` -> `Aggte.prepare` -> the four `Aggte`
  * families -> `Summary`. One client, one call at a time (closed loop).
  *
  * `--trace 0`: set-up, one cold call (the first in the session), then
  * warm calls for `--seconds` (at least one). `--trace 1`: set-up, one
  * untimed call, then pairs of one traced and one untraced call for
  * `--seconds` (at least two pairs); the traced call splits the fit into
  * `AttGt.fit(bstrap = false)` and `MBoot.run` and wraps every public call
  * in a span.
  *
  * Prints one line `PERFBENCH_RESULT <json>`; `perfbench/run.py` turns it
  * into the benchmark's result line. */
object DidBench {

  val SpanNames = Seq("preprocess", "attgt.fit", "mboot.fit", "aggte.prepare",
    "aggte.simple", "aggte.group", "aggte.calendar", "aggte.dynamic",
    "summary")

  /** Outcome of one pipeline call. */
  final case class Call(index: Int, traced: Boolean, wallS: Double,
      heapPeakMb: Double, fingerprint: String, errors: Seq[String],
      cells: Int, ifEntries: Long)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val w0 = Workload.all(opt("--workload"))
    val w = if (opt.getOrElse("--smoke", "0") == "1") w0.smoke else w0
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toDouble
    val trace = opt("--trace") == "1"
    val cpus = opt.getOrElse("--cpus", "4")
    val dataDir = Paths.get(opt("--data")).toAbsolutePath

    // set-up: JVM start (from the runtime MXBean) + session + data + warm-up
    val jvmS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.windowGroupLimitThreshold", "10000000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    // generate + write three times; the median is the data set-up cost
    val rounds = (0 until 3).map { i =>
      val t = System.nanoTime()
      val p = Panel.generate(w, seed)
      import spark.implicits._
      p.rows.toSeq.toDF().write.mode("overwrite")
        .parquet(dataDir.resolve(s"panel$i").toString)
      (p, (System.nanoTime() - t) / 1e9)
    }
    val panel = rounds.head._1
    val writes = rounds.map(_._2)
    val path = dataDir.resolve("panel0").toString
    val parquetBytes = Files.walk(dataDir.resolve("panel0")).iterator.asScala
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet"))
      .map(Files.size).sum
    val tw = System.nanoTime()
    spark.read.parquet(path).count() // warm-up: first scan and job
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = jvmS + sessionS + median(writes) + warmS

    val heap = new HeapPeak
    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
    val oracle = Panel.twoByTwo(panel)
    val calls = mutable.ArrayBuffer.empty[Call]

    def run(traced: Boolean): Call = {
      val i = calls.length
      val c =
        try pipeline(spark, path, panel, oracle,
          if (traced) tracer else None, heap, i)
        catch {
          case e: Throwable =>
            Call(i, traced, Double.NaN, Double.NaN, "", Seq(s"threw: $e"),
              0, 0L)
        }
      calls += c
      c
    }

    val first = run(traced = false)
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    // a traced run compares traced with untraced calls in pairs; the pairs
    // alternate which call goes first, so the JIT's warming favours neither
    val minCalls = if (trace) 5 else 2
    while (calls.length < minCalls || elapsed < seconds) {
      if (trace) {
        val tracedFirst = (calls.length - 1) % 4 == 0
        run(traced = tracedFirst); run(traced = !tracedFirst)
      } else run(traced = false)
    }

    // check 3: every call of the run gives bit-identical numbers
    val ref = calls.find(_.errors.isEmpty).map(_.fingerprint)
    val checked = calls.toSeq.map { c =>
      if (c.errors.isEmpty && ref.exists(_ != c.fingerprint))
        c.copy(errors = Seq(s"results differ from the run's first call " +
          s"(${c.fingerprint} vs ${ref.get})"))
      else c
    }
    val failed = checked.count(_.errors.nonEmpty)
    // timings of every call that returned, right or wrong; a wrong answer
    // shows in `failed`
    val warmInOrder = checked.drop(1)
      .filter(c => !c.traced && !c.wallS.isNaN).map(_.wallS)
    val warm = warmInOrder.sorted
    val heapPeaks = checked.drop(1)
      .filter(c => !c.traced && c.heapPeakMb > 0).map(_.heapPeakMb)

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val detail = mutable.LinkedHashMap.empty[String, Any]
    detail("workload") = w.name
    detail("seed") = seed
    detail("input") = Map("rows" -> panel.rows.length, "units" -> panel.nUnits,
      "periods" -> w.periods, "cohorts" -> w.cohorts.length,
      "cells" -> first.cells, "if_entries" -> first.ifEntries,
      "parquet_bytes" -> parquetBytes)
    detail("setup_parts_s") = Map("jvm" -> jvmS, "session" -> sessionS,
      "generate_write" -> writes, "warmup" -> warmS)
    detail("pipeline_s") = Map("n" -> warm.length,
      "p25" -> quantile(warm, 0.25), "median" -> quantile(warm, 0.5),
      "p75" -> quantile(warm, 0.75), "max" -> warm.lastOption.getOrElse(0.0),
      "samples" -> warmInOrder)
    detail("driver_heap_peak_mb") = Map("cold" -> first.heapPeakMb,
      "warm" -> heapPeaks)
    detail("fingerprint") = ref.getOrElse("")
    detail("errors") = checked.filter(_.errors.nonEmpty)
      .map(c => s"call ${c.index}: ${c.errors.take(5).mkString("; ")}")
      .take(10)

    tracer match {
      case None =>
        metrics("pipeline_s") = (quantile(warm, 0.5), "s")
        metrics("cold_pipeline_s") = (first.wallS, "s")
        metrics("setup_s") = (setupS, "s")
        metrics("driver_heap_peak_mb") = (median(heapPeaks), "MB")
      case Some(tr) =>
        val counters = tr.counters()
        val tracedCalls = checked.filter(_.traced).map(_.index).toSet
        val spans = tr.spans.filter(s => tracedCalls(s.call))
        val rows = spans.map { s =>
          val c = counters.getOrElse(s.id, new Counters)
          val m = mutable.LinkedHashMap[String, Double](
            "wall_s" -> s.wallS,
            "driver_only_s" -> (if (c.jobIntervals.isEmpty) s.wallS
              else Tracer.uncovered(s.startMs, s.endMs, c.jobIntervals.toSeq)
                .min(s.wallS)),
            "jobs" -> c.jobs.toDouble, "stages" -> c.stages.toDouble,
            "tasks" -> c.tasks.toDouble, "task_cpu_s" -> c.taskCpuNs / 1e9,
            "shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble,
            "result_bytes" -> c.resultBytes.toDouble,
            "spill_bytes" -> c.spillBytes.toDouble, "gc_s" -> s.gcS)
          if (s.name == "preprocess") m("input_bytes") = c.inputBytes.toDouble
          if (s.name == "attgt.fit") {
            val call = checked(s.call)
            m("cells") = call.cells.toDouble
            m("if_entries") = call.ifEntries.toDouble
          }
          (s.call, s.name, m)
        }
        for (name <- SpanNames) {
          val ofName = rows.filter(_._2 == name).map(_._3)
          for (k <- ofName.head.keys)
            metrics(s"$name.$k") = (quantile(ofName.map(_(k)).sorted, 0.5),
              unitOf(k))
        }
        val tracedWall = checked.filter(c => c.traced && !c.wallS.isNaN)
          .map(_.wallS).sorted
        val coverage = checked.filter(c => c.traced && !c.wallS.isNaN).map { c =>
          spans.filter(_.call == c.index).map(_.wallS).sum / c.wallS
        }.sorted
        metrics("trace_overhead") =
          (quantile(tracedWall, 0.5) / quantile(warm, 0.5), "ratio")
        metrics("span_coverage") = (quantile(coverage, 0.5), "ratio")
        // the counts that must repeat exactly across the traced calls
        detail("counts_vary") = (for {
          name <- SpanNames
          k <- Seq("jobs", "stages", "tasks", "if_entries")
          vs = rows.filter(_._2 == name).flatMap(_._3.get(k)).distinct
          if vs.length > 1
        } yield s"$name.$k: ${vs.mkString(", ")}")
        detail("spans") = rows.map { case (call, name, m) =>
          Map("call" -> call, "span" -> name) ++ m
        }
        tr.close()
    }

    val out = Map("correct" -> (failed == 0), "attempted" -> checked.length,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u)
      }, "detail" -> detail)
    println("PERFBENCH_RESULT " + Json(out))
    spark.stop()
  }

  /** One call chain, parquet path to `Summary` output, then its checks. */
  private def pipeline(spark: SparkSession, path: String, panel: Panel,
      oracle: Map[(Int, Int), Double], tracer: Option[Tracer],
      heap: HeapPeak, index: Int): Call = {
    val w = panel.w
    def span[T](name: String)(body: => T): T =
      tracer.fold(body)(_.span(index, name)(body))
    val cfg = AttGtConfig(yname = "y", tname = "t", idname = "id",
      gname = "g", controlGroup = w.controlGroup,
      xfmla = if (w.covariates) Some("y ~ x1 + x2 + x3") else None,
      allowUnbalancedPanel = w.unbalanced, cband = w.cband, biters = w.biters)

    // each call starts from a collected heap: its post-GC peak is then its
    // own live data, not the garbage earlier calls left in the old gen
    System.gc()
    heap.start()
    val t0 = System.nanoTime()
    val pp = span("preprocess")(Preprocess.run(spark.read.parquet(path), cfg))
    val fit = tracer match {
      case None => AttGt.fit(pp, bstrap = w.bstrap)
      case Some(_) =>
        // what fit(bstrap = true) does on the unclustered path, split
        val f = span("attgt.fit")(AttGt.fit(pp, bstrap = false))
        span("mboot.fit") {
          if (!w.bstrap) f
          else {
            val b = MBoot.run(f.ifTable, f.cells.length, pp.n, cfg.biters,
              cfg.alp, cfg.seed)
            f.copy(se = b.se, critVal = b.critVal, bstrap = true)
          }
        }
    }
    val prep = span("aggte.prepare")(Aggte.prepare(fit))
    val simple = span("aggte.simple")(Aggte.simple(prep))
    val group = span("aggte.group")(Aggte.group(prep))
    val calendar = span("aggte.calendar")(Aggte.calendar(prep))
    val dynamic = span("aggte.dynamic")(Aggte.dynamic(prep))
    val aggs = Seq(simple, group, calendar, dynamic)
    val (table, texts) = span("summary") {
      (Summary.sumGt(fit).collect(),
        aggs.map(Summary.text(_, w.controlGroup)))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val heapPeakMb = heap.stop() / 1048576.0

    val ifEntries = if (tracer.nonEmpty || index == 0) fit.ifTable.count()
      else 0L
    val errors = Checks.all(panel, oracle, fit, simple, dynamic, table, texts)
    val fp = Checks.fingerprint(fit, aggs)
    pp.df.unpersist(true)
    fit.ifTable.unpersist(true)
    prep.units.unpersist(true)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    Call(index, tracer.nonEmpty, wall, heapPeakMb, fp, errors,
      fit.cells.length, ifEntries)
  }

  private def unitOf(metric: String): String =
    if (metric.endsWith("_s")) "s"
    else if (metric.endsWith("_bytes")) "bytes"
    else "count"

  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** Linear-interpolated quantile of sorted values (NaN when empty). */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, sorted.length - 1)
      sorted(lo) + (pos - lo) * (sorted(hi) - sorted(lo))
    }
}

/** Largest post-GC heap between `start` and `stop`, from the GC
  * notifications; the heap in use at `stop` when no collection ran. */
final class HeapPeak {
  @volatile private var on = false
  @volatile private var peak = 0L
  def start(): Unit = { peak = 0L; on = true }
  def stop(): Long = {
    on = false
    if (peak > 0) peak
    else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (on && n.getType ==
          GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum
        if (used > peak) peak = used
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }
}

/** The correctness checks of one call. */
object Checks {
  val MaxSe = 5.0
  val RelTol = 1e-9

  def all(panel: Panel, oracle: Map[(Int, Int), Double], fit: AttGtFit,
      simple: AggteResult, dynamic: AggteResult, table: Array[Row],
      texts: Seq[String]): Seq[String] = {
    val w = panel.w
    val errs = mutable.ArrayBuffer.empty[String]
    def within(what: String, est: Double, truth: Double, se: Double): Unit =
      if (!(se > 0) || !(math.abs(est - truth) <= MaxSe * se))
        errs += f"$what: estimate $est%.6f, planted $truth%.6f, se $se%.6f"
    val live = fit.cells.indices.filterNot(fit.skipped)
    if (live.length != fit.cells.length)
      errs += s"${fit.cells.length - live.length} cells skipped"
    // 1: every cell within 5 SE of its planted effect (0 before treatment)
    live.foreach { i =>
      val (g, t) = (fit.cells(i).g.toInt, fit.cells(i).tn.toInt)
      val se = if (fit.bstrap) fit.se(i) else fit.seAnalytic(i)
      within(s"ATT($g,$t)", fit.att(i), panel.tau(g, t), se)
    }
    // 2: intercept-only, never-treated, unit weights: each ATT(g,t) is the
    // plain 2x2 difference of means
    if (!w.covariates && w.controlGroup == "nevertreated") live.foreach { i =>
      val (g, t) = (fit.cells(i).g.toInt, fit.cells(i).tn.toInt)
      val want = oracle((g, t))
      if (!(math.abs(fit.att(i) - want) <= RelTol * math.max(1.0, math.abs(want))))
        errs += f"ATT($g,$t) ${fit.att(i)}%.12f != 2x2 $want%.12f"
    }
    // the aggregations against the planted effects they average
    val share = panel.cohortShare
    def avg(cells: Seq[(Int, Int)]): Double =
      cells.map { case (g, t) => share(g) * panel.tau(g, t) }.sum /
        cells.map { case (g, _) => share(g) }.sum
    val post = for (g <- w.cohorts; t <- g to w.periods) yield (g, t)
    within("simple", simple.overallAtt, avg(post), simple.overallSe)
    dynamic.egt.indices.foreach { j =>
      val e = dynamic.egt(j).toInt
      val cells = w.cohorts.map(g => (g, g + e))
        .filter { case (_, t) => t >= 2 && t <= w.periods }
      within(s"dynamic e=$e", dynamic.attEgt(j), avg(cells), dynamic.seEgt(j))
    }
    if (table.length != live.length)
      errs += s"sumGt has ${table.length} rows for ${live.length} cells"
    if (!texts.forall(_.contains("Overall ATT")))
      errs += "a summary text lacks its Overall ATT line"
    errs.toSeq
  }

  /** SHA-256 over the bits of every reported ATT, SE and critical value. */
  def fingerprint(fit: AttGtFit, aggs: Seq[AggteResult]): String = {
    val vals = fit.att ++ fit.se ++ fit.seAnalytic ++ Seq(fit.critVal) ++
      aggs.flatMap(a => Seq(a.overallAtt, a.overallSe, a.critValEgt) ++
        a.attEgt ++ a.seEgt)
    val buf = java.nio.ByteBuffer.allocate(8 * vals.length)
    vals.foreach(v => buf.putLong(java.lang.Double.doubleToRawLongBits(v)))
    java.security.MessageDigest.getInstance("SHA-256").digest(buf.array)
      .take(12).map(b => f"$b%02x").mkString
  }
}

/** Minimal JSON writer for the result line. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
