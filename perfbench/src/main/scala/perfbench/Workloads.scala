package perfbench

import graft.queries.LibraryReports
import org.apache.spark.sql.{Row, SparkSession}

import scala.collection.mutable

/** What one run measured, before it becomes metrics.
  *
  * @param setupS   seconds of the workload's own set-up, the cold unit
  *                 included: the first call of every path in a fresh JVM
  *                 is part of getting the system ready
  * @param coldS    seconds of the cold unit (first refresh, first operator
  *                 pass) alone
  * @param warmS    the workload's steady-state unit figure, from the
  *                 untraced units after the cold one (a median, or a sum
  *                 of per-operation medians)
  * @param queries  each untraced read operation after the cold unit, as
  *                 (operation, seconds); an operation repeats with the
  *                 same inputs (report and its parameters, operator key)
  * @param overhead traced minus untraced figures (traced runs only)
  * @param layer    workload-specific per-layer figures (traced runs only)
  */
final case class Outcome(
    setupS: Double,
    coldS: Double,
    warmS: Double,
    queries: Seq[(String, Double)],
    attempted: Int,
    failed: Int,
    checks: Seq[(String, Boolean)],
    overhead: Map[String, Double],
    layer: Map[String, Double])

final case class Ctx(spark: SparkSession, trace: Trace, seed: Long, seconds: Double,
    scratch: String) {
  private var t0 = System.nanoTime()
  /** Starts the measured window (after the workload's set-up). */
  def startWindow(): Unit = t0 = System.nanoTime()
  def elapsed: Double = (System.nanoTime() - t0) / 1e9
}

object Workloads {

  val Names: Seq[String] = Seq("refresh_and_report", "operator_surface")

  def run(name: String, ctx: Ctx): Outcome = name match {
    case "refresh_and_report" => refreshAndReport(ctx)
    case "operator_surface"   => OperatorSurface.run(ctx)
  }

  /** Library volume for the library workloads (1.0 = reference volumes;
    * sales and purchases do not scale). */
  val LibraryScale = 0.1

  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** Median; 0 for no samples. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** Geometric mean over operations of each operation's median seconds;
    * 0 for no samples. Every operation weighs the same, so halving any
    * one of n operations lowers it by the factor 2^(1/n). */
  def geomeanOfMedians(samples: Seq[(String, Double)]): Double = {
    val meds = samples.groupBy(_._1).values.map(xs => median(xs.map(_._2))).toSeq
    if (meds.isEmpty) 0.0 else math.exp(meds.map(m => math.log(math.max(m, 1e-9))).sum / meds.size)
  }

  /** Drops every cached frame and persisted RDD, as the program's bench
    * does between keys; not timed. */
  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Row multisets equal, doubles to 1e-9 relative (aggregation order may
    * differ between a store read and an in-memory frame). */
  def sameRows(a: Array[Row], b: Array[Row]): Boolean = {
    def norm(r: Row): Seq[Any] = r.toSeq.map {
      case d: Double => BigDecimal(d).round(new java.math.MathContext(9)).toDouble
      case f: Float  => BigDecimal(f.toDouble).round(new java.math.MathContext(6)).toDouble
      case x         => x
    }
    a.length == b.length && a.map(norm(_).toString).sorted.sameElements(b.map(norm(_).toString).sorted)
  }

  /** A two-year report window starting in 2020 or 2021 and a top-N of
    * 3–10. Both windows hold 18–19 months of the loaded star's facts (it
    * holds July 2020 to July 2022), so the seed does not change how much
    * a report reads. */
  private def reportParams(rng: scala.util.Random): LibraryReports.Params = {
    val from = 2020 + rng.nextInt(2)
    LibraryReports.Params(yearFrom = from, yearTo = from + 1, topN = 3 + rng.nextInt(8))
  }

  /** Traced minus untraced: median of the warm units, and
    * [[geomeanOfMedians]] of the queries (the same operations with the
    * same inputs on both sides). */
  def overheads(units: Seq[(Double, Boolean)], queries: Seq[(String, Double, Boolean)]): Map[String, Double] = {
    def side(traced: Boolean) = queries.collect { case (op, s, `traced`) => op -> s }
    Map(
      "trace_overhead.warm_s" ->
        (median(units.collect { case (s, true) => s }) - median(units.collect { case (s, false) => s })),
      "trace_overhead.query_geomean_s" -> (geomeanOfMedians(side(true)) - geomeanOfMedians(side(false))))
  }

  /** The base holds the facts of the two years before July 2022; the
    * batch is July 2022, with June re-sent as overlap. */
  private val Cutoff = "2022-07-01"
  private val BaseYears = 2

  /** The star with its members dim and facts checkpointed, so the counts
    * and reports over it do not recompute the whole lineage. */
  private def settle(dw: graft.etl.DwTables) = dw.copy(
    dimMembers = dw.dimMembers.localCheckpoint(),
    factSales = dw.factSales.localCheckpoint(),
    factBorrowing = dw.factBorrowing.localCheckpoint(),
    factPurchase = dw.factPurchase.localCheckpoint())

  /** Rounds (a re-run of the refresh, then a burst of Q1–Q5) an untraced
    * run makes, at least. */
  private val MinRounds = 3

  /** Set-up is the library pipeline as a batch job: generate → derive →
    * initial load of the base → bootstrap of the star into a fresh store →
    * Q1–Q5 over the star read back, then the cold unit: one monthly
    * refresh, the first in the JVM. The measured window is made of rounds:
    * a re-run of the same refresh, which must commit no new fact row, then
    * a burst of Q1–Q5 over the star read from the store's new current
    * version.
    * Each report's year window and top-N are drawn from the seed
    * once, so every burst repeats the same five reports. Rounds repeat
    * until the window has lasted `seconds` and [[MinRounds]] are done.
    * A traced run traces the set-up and the cold refresh, then makes an
    * untraced, a traced and an untraced round, so the two untraced rounds
    * bracket the traced one. */
  private def refreshAndReport(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val trace = ctx.trace
    val lib = new Library(spark, trace, LibraryScale, ctx.seed)
    val store = s"${ctx.scratch}/store"
    val layer = mutable.Map.empty[String, Double]
    val derived = Library.extract(lib.derive(lib.generate()))
    // materialised once: the bootstrap commits it, and the end-of-run
    // check starts the program's in-memory incremental load from it
    val (baseStar, loadS) = secs(settle(lib.initialLoad(Library.base(derived, Cutoff, BaseYears))))
    val (_, bootstrapS) = secs(lib.bootstrap(store, baseStar))
    val rng = new scala.util.Random(ctx.seed)
    val reportParamsOf = (1 to 5).map(q => q -> reportParams(rng)).toMap
    val (_, reportsS) = secs {
      val star = lib.readStar(store)
      (1 to 5).foreach(q => lib.report(q, star, derived, reportParamsOf(q)))
    }
    val pipelineS = loadS + bootstrapS + reportsS
    System.err.println(f"[perfbench] pipeline $pipelineS%.2f s: generate, derive and load $loadS%.2f s, " +
      f"bootstrap $bootstrapS%.2f s, Q1–Q5 $reportsS%.2f s")
    trace.active = false
    if (trace.on) {
      layer("etl.versioned_bootstrap.rows") =
        Library.starFrames(lib.readStar(store)).map(_.count()).sum.toDouble
      layer("etl.versioned_bootstrap.bytes") = lib.storeBytes(store).toDouble
    }

    val month = java.time.LocalDate.parse(Cutoff)
    val asOf = month.plusMonths(1).minusDays(1).toString
    val batch = Library.batch(derived, month.minusMonths(1).toString, Cutoff,
      month.plusMonths(1).toString, ctx.seed, 0)
    val units = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val queries = mutable.ArrayBuffer.empty[(String, Double, Boolean)]
    var rounds = 0
    var attempted = 0
    var failed = 0

    def refresh(traced: Boolean): Option[Double] = {
      trace.active = traced
      attempted += 1
      val s = scala.util.Try(secs(lib.refresh(store, batch, asOf))._2).fold(
        e => { failed += 1; System.err.println(s"[perfbench] refresh failed: $e"); None },
        s => { System.err.println(f"[perfbench] refresh $s%.2f s"); Some(s) })
      trace.active = false
      s
    }
    def burst(traced: Boolean): Unit = {
      trace.active = traced
      for (q <- 1 to 5) {
        attempted += 1
        scala.util.Try(secs(lib.report(q, lib.readStar(store), derived, reportParamsOf(q)))).fold(
          e => { failed += 1; System.err.println(s"[perfbench] report Q$q failed: $e") },
          { case (_, s) =>
            System.err.println(f"[perfbench] report Q$q $s%.2f s")
            queries += ((s"Q$q", s, traced))
            if (traced) layer(s"queries.q${q}_s") = layer.getOrElse(s"queries.q${q}_s", 0.0) + s
          })
      }
      trace.active = false
    }
    def round(traced: Boolean): Unit = {
      refresh(traced).foreach(s => units += s -> traced)
      burst(traced)
      rounds += 1
    }

    // fact rows and manifest files around the first refresh, for the
    // commit ratios; taken outside the timed refresh
    val before = if (trace.on) lib.factState(store) else Map.empty[String, (Long, Set[String])]
    val coldS = refresh(traced = trace.on).getOrElse(0.0)
    val setupS = pipelineS + coldS
    System.err.println(f"[perfbench] set-up $setupS%.2f s")
    if (trace.on) {
      val after = lib.factState(store)
      val fts = Library.FactTables
      layer ++= Seq(
        "etl.versioned_refresh.batch_rows" -> lib.batchFacts(store, batch, asOf).map(_.count()).sum,
        "etl.versioned_refresh.committed_rows" -> fts.map(n => after(n)._1 - before(n)._1).sum,
        "etl.versioned_refresh.reused_files" ->
          fts.map(n => (after(n)._2 intersect before(n)._2).size.toLong).sum,
        "etl.versioned_refresh.manifest_files" -> fts.map(n => after(n)._2.size.toLong).sum
      ).map { case (n, v) => n -> v.toDouble }
    }
    val factRows = () => Library.FactTables.map(n =>
      graft.etl.SnapshotStore.read(spark, s"$store/$n").get.count())
    val rowsAfterRefresh = factRows()
    ctx.startWindow()
    if (trace.on) Seq(false, true, false).foreach(round)
    else while (rounds < MinRounds || ctx.elapsed < ctx.seconds) round(traced = false)
    System.err.println(f"[perfbench] window ${ctx.elapsed}%.2f s")

    // the same batch through the program's in-memory incremental load:
    // re-running it is a no-op, so one step must match the store
    val mem = settle(graft.etl.IncrementalLoad(spark, baseStar, batch, asOf))
    val star = lib.readStar(store)
    val params = LibraryReports.Params()
    val rowsAtEnd = factRows()
    val checks = Seq("re-running the refresh commits no fact row" -> (rowsAtEnd == rowsAfterRefresh)) ++
      Library.FactTables.zip(rowsAtEnd.zip(Library.starFrames(mem).drop(4)))
        .map { case (n, (a, b)) => s"rows of $n" -> (a == b.count()) } ++
      // Q4 and Q5 read the OLTP tables, not the star
      (1 to 3).map { q =>
        s"Q$q matches the in-memory incremental load" -> sameRows(
          Library.reportFrame(q, star, derived, params).collect(),
          Library.reportFrame(q, mem, derived, params).collect())
      }
    System.err.println(f"[perfbench] checks done ${ctx.elapsed}%.2f s")
    // the harness's own cached OLTP tables and checkpointed stars go, so
    // the retained heap counts what the program keeps
    cleanup(spark)
    Outcome(
      setupS = setupS,
      coldS = coldS,
      warmS = median(units.collect { case (s, false) => s }.toSeq),
      queries = queries.collect { case (op, s, false) => op -> s }.toSeq,
      attempted = attempted,
      failed = failed,
      checks = checks,
      overhead = overheads(units.toSeq, queries.toSeq),
      layer = layer.toMap)
  }
}
