package perfbench

import scala.collection.mutable

/** `operator_surface`: a fixed, stratified subset of the program's
  * registered operator keys (`graft.SparkEntry.queries`) over seeded
  * TPC-H-like tables, in a seed-permuted order. Pass 1 is the first
  * call of every key in a fresh JVM with an empty artifact root, so it
  * pays the build-once tables and artifacts; later passes run in the
  * same JVM. Each key is timed as build (`fn(spark, dir)`) plus action
  * (`.count()`), and cleaned up after as the program's bench does. */
object OperatorSurface {

  /** One key of each of ten families that take over 2 s of the
    * program's bench. Keys that build an artifact (zone maps, BPE pieces,
    * IVF centroids) are preferred, so pass 1 shows that cost; the rest
    * are the family's cheaper keys. Left out so that a run fits its time:
    * `lib` (its keys rebuild the library star that `refresh_and_report`
    * measures, at 4–7 s each cold), `etl`, `eval` and `sample`. */
  val Keys: Seq[String] = Seq(
    "agg_quantile_sketch",
    "dedup_fuzzy_editdist",
    "events_forecast_hw_grouped",
    "graph_pagerank",
    "io_zonemap_audit",
    "join_interval_overlap",
    "pipeline_pretrain",
    "sim_topk_ivf",
    "text_dedup_substring",
    "win_running_total_global")

  /** TPC-H scale factor of the generated tables (lineitem = 180k rows).
    * On a 4-core host a warm pass over the keys takes about 4.6 s plus
    * 97 s × scale, so at 0.03 about two fifths of it grows with the data;
    * at 0.1 a run would not fit the benchmark's time budget. */
  val DataScale = 0.03

  /** Warm passes an untraced run makes, at least. */
  val MinWarmPasses = 3

  def family(key: String): String = key.takeWhile(_ != '_')

  def run(ctx: Ctx): Outcome = {
    import Workloads._
    val spark = ctx.spark
    val trace = ctx.trace
    val dir = s"${ctx.scratch}/data"
    val (_, genS) = secs(TestData.generate(spark, dir, ctx.seed, DataScale))
    System.err.println(f"[perfbench] data generated in $genS%.2f s")
    val order = new scala.util.Random(ctx.seed).shuffle(Keys)
    val fns = graft.SparkEntry.queries

    var attempted = 0
    var failed = 0
    var sinceGc = 0
    val layer = mutable.Map.empty[String, Double]
    // one entry per pass: (seconds, traced, per-key (key, seconds, rows))
    val passes = mutable.ArrayBuffer.empty[(Double, Boolean, Seq[(String, Double, Option[Long])])]

    def pass(traced: Boolean): Unit = {
      trace.active = traced
      val perKey = order.map { k =>
        attempted += 1
        val fam = family(k)
        val (rows, s) = secs(scala.util.Try {
          // warm traced passes also charge their jobs to the key's family
          val group = if (passes.nonEmpty) Some(s"ops.$fam") else None
          val df = trace.span("ops.build", group = group)(fns(k)(spark, dir))
          trace.span("ops.action", group = group)(df.count())
        })
        System.err.println(f"[perfbench] pass ${passes.size + 1} $k $s%.2f s")
        rows.failed.foreach { e =>
          failed += 1
          System.err.println(s"[perfbench] $k failed: $e")
        }
        if (traced && passes.nonEmpty) layer(s"ops.$fam.s") = layer.getOrElse(s"ops.$fam.s", 0.0) + s
        cleanup(spark)
        sinceGc += 1
        if (sinceGc >= 4 || s > 2.0) { sinceGc = 0; System.gc() }
        (k, s, rows.toOption)
      }
      passes += ((perKey.map(_._2).sum, traced, perKey))
      trace.active = false
    }

    // pass 1 (cold) is part of the set-up; the window holds the warm passes
    pass(traced = trace.on)
    val coldS = passes.head._1
    val setupS = genS + coldS
    System.err.println(f"[perfbench] set-up $setupS%.2f s")
    ctx.startWindow()
    if (trace.on) Seq(false, true, false).foreach(traced => pass(traced))
    else while (passes.size < 1 + MinWarmPasses || ctx.elapsed < ctx.seconds) pass(traced = false)

    val rowsOk = order.indices.forall { i =>
      val counts = passes.map(_._3(i)._3)
      counts.forall(_.isDefined) && counts.distinct.size == 1
    }
    val warm = passes.drop(1)
    val queries = warm.collect { case (_, false, ks) => ks.map(k => k._1 -> k._2) }.flatten.toSeq
    Outcome(
      setupS = setupS,
      coldS = coldS,
      // a warm pass made of each key's median, so one slow pass of a key
      // does not move it
      warmS = queries.groupBy(_._1).values.map(xs => median(xs.map(_._2))).sum,
      queries = queries,
      attempted = attempted,
      failed = failed,
      checks = Seq("every key counts the same rows in every pass" -> rowsOk),
      overhead = overheads(warm.map(p => p._1 -> p._2).toSeq,
        warm.flatMap(p => p._3.map(k => (k._1, k._2, p._2))).toSeq),
      layer = layer.toMap)
  }
}
