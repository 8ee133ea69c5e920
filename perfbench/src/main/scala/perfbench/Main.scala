package perfbench

import java.lang.management.ManagementFactory

/** One benchmark run in this JVM:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --scratch <dir> --cores <n> --out <file>`.
  * Writes the run's result object to `--out`; the launcher prints it. */
object Main {

  /** End-to-end metrics (every workload reports all of them). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "warm_s" -> "s", "query_geomean_s" -> "s",
    "heap_retained_mb" -> "MB")

  val Spans: Seq[String] = Seq("gen.generate", "etl.derive", "etl.initial_load", "etl.scd2",
    "etl.versioned_bootstrap", "etl.versioned_refresh", "etl.snapshot_read", "queries.report",
    "ops.build", "ops.action")

  /** Per-layer metrics (a traced run reports all of them; a layer the
    * workload never enters reads 0). */
  val PerLayer: Seq[(String, String)] =
    Spans.flatMap(s => Trace.Measures.map(m => s"$s.$m" -> unitOf(m))) ++
      (1 to 5).map(q => s"queries.q${q}_s" -> "s") ++
      OperatorSurface.Keys.map(OperatorSurface.family).distinct.sorted.flatMap(f =>
        Seq(s"ops.$f.s" -> "s", s"ops.$f.jobs" -> "count")) ++
      Seq(
        "etl.versioned_refresh.new_rows_frac" -> "ratio",
        "etl.versioned_refresh.batch_rows" -> "count",
        "etl.versioned_refresh.files_reused_frac" -> "ratio",
        "etl.versioned_refresh.manifest_files" -> "count",
        "etl.versioned_bootstrap.bytes_per_row" -> "B",
        "etl.versioned_bootstrap.rows" -> "count",
        "cores" -> "count",
        "cold_s" -> "s",
        "trace_overhead.warm_s" -> "s",
        "trace_overhead.query_geomean_s" -> "s")

  private def unitOf(measure: String): String = measure match {
    case "jobs" | "tasks" => "count"
    case "core_busy"      => "ratio"
    case m if m.endsWith("_mb") => "MB"
    case _                => "s"
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    require(Workloads.Names.contains(workload), s"unknown workload $workload")
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val mainMs = System.currentTimeMillis()
    val spark = Session.start(cores, opt("scratch"))
    val sessionMs = System.currentTimeMillis()
    // warm the executor threads once, as the program's bench does
    spark.range(1000000).selectExpr("sum(id)").collect()
    val bootS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    System.err.println(f"[perfbench] boot $bootS%.2f s (JVM ${(mainMs - jvmStartMs) / 1e3}%.2f s, " +
      f"session ${(sessionMs - mainMs) / 1e3}%.2f s)")
    val trace = new Trace(spark, traced)
    val ctx = Ctx(spark, trace, opt("seed").toLong, opt("seconds").toDouble, opt("scratch"))
    val out = Workloads.run(workload, ctx)

    val metrics: Seq[(String, Double, String)] =
      if (traced) {
        val m = trace.layerMetrics() ++ out.layer ++ out.overhead
        def ratio(n: String, d: String) = m.get(d).filter(_ > 0).fold(0.0)(m.getOrElse(n, 0.0) / _)
        val all = m ++ Map(
          "etl.versioned_refresh.new_rows_frac" ->
            ratio("etl.versioned_refresh.committed_rows", "etl.versioned_refresh.batch_rows"),
          "etl.versioned_refresh.files_reused_frac" ->
            ratio("etl.versioned_refresh.reused_files", "etl.versioned_refresh.manifest_files"),
          "etl.versioned_bootstrap.bytes_per_row" ->
            ratio("etl.versioned_bootstrap.bytes", "etl.versioned_bootstrap.rows"),
          "cores" -> cores.toDouble,
          "cold_s" -> out.coldS)
        PerLayer.map { case (n, u) => (n, all.getOrElse(n, 0.0), u) }
      } else {
        import Workloads.geomeanOfMedians
        // heap still held once the run's work is done: what memos and
        // caches keep. Spark's cleaner frees broadcasts and shuffles only
        // after a GC has found them unreachable, so collect a few times
        // and keep the lowest reading.
        val mem = ManagementFactory.getMemoryMXBean
        val heapMb = (1 to 3).map { _ =>
          System.gc()
          Thread.sleep(300)
          mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
        }.min
        val e2e = Map(
          "setup_s" -> (bootS + out.setupS),
          "warm_s" -> out.warmS,
          "query_geomean_s" -> geomeanOfMedians(out.queries),
          "heap_retained_mb" -> heapMb)
        System.err.println(s"[perfbench] cold unit ${out.coldS} s, ${out.queries.size} query samples " +
          s"over ${out.queries.map(_._1).distinct.size} operations")
        EndToEnd.map { case (n, u) => (n, e2e(n), u) }
      }

    out.checks.foreach { case (what, ok) =>
      System.err.println(s"[perfbench] check ${if (ok) "ok    " else "FAILED"} $what")
    }
    val correct = out.failed == 0 && out.checks.forall(_._2)
    val json = metrics.map { case (n, v, u) =>
      "\"" + n + "\": {\"value\": " + (if (v.isNaN || v.isInfinite) "0" else v.toString) +
        ", \"unit\": \"" + u + "\"}"
    }.mkString(
      s"""{"correct": $correct, "attempted": ${math.max(1, out.attempted)}, "failed": ${out.failed}, "metrics": {""",
      ", ", "}}")
    java.nio.file.Files.write(java.nio.file.Paths.get(opt("out")),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    import scala.jdk.CollectionConverters._
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    System.err.println(f"[perfbench] done ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.2f s after JVM start; " +
      s"GC ${gcs.map(g => s"${g.getName} ${g.getCollectionCount}x ${g.getCollectionTime} ms").mkString(", ")}")
  }
}
