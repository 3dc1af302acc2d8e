package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by `run.py`:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --bench-dir <dir> --work-dir <dir> [--trace-file <f>]
  *                [--untraced-headline <ms>] [--record-expected]
  * }}}
  *
  * Prints one JSON line per metric, problem and (traced) span self
  * time, then the summary object as the last line of stdout.
  */
object Main {
  val Workloads: Map[String, Workload] = Seq[Workload](
    RegistryWorkload.registry, StoreWorkloads.store)
    .map(w => w.name -> w).toMap

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val w = Workloads.getOrElse(opts("workload"),
      throw new IllegalArgumentException(s"unknown workload '${opts("workload")}'"))
    val traced = opts("trace") == "1"
    val workDir = new File(opts("work-dir"))
    val benchDir = new File(opts("bench-dir"))
    val spark = session(workDir, traced)
    try {
      val sessionStartS = (System.currentTimeMillis() -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
      val listener = if (traced) Some(new LayerListener) else None
      listener.foreach(spark.sparkContext.addSparkListener)
      val ctx = Ctx(spark, opts("seed").toLong, opts("seconds").toInt, traced, workDir,
        benchDir, sessionStartS, listener)
      if (opts.contains("record-expected")) record(ctx, w)
      else {
        Trace.enabled = traced
        Trace.runId = s"${w.name}-${ctx.seed}"
        println(Json.obj("workload" -> w.name, "kind" -> "run", "seed" -> ctx.seed,
          "seconds" -> ctx.seconds, "trace" -> (if (traced) 1 else 0), "cores" -> ctx.cores))
        Log(s"${w.name}: session ready")
        val out = w.run(ctx)
        Log(s"${w.name}: done")
        Trace.enabled = false
        report(w.name, out, traced, opts.get("untraced-headline").map(_.toDouble),
          opts.get("trace-file"))
      }
    } finally spark.stop()
  }

  def session(workDir: File, traced: Boolean): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.openCostInBytes", (256 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(workDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getAbsolutePath)
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def parse(args: Array[String]): Map[String, String] = {
    val flags = Set("record-expected")
    val it = args.iterator
    val b = Map.newBuilder[String, String]
    while (it.hasNext) {
      val k = it.next().stripPrefix("--")
      if (flags(k)) b += k -> "1"
      else if (it.hasNext) b += k -> it.next()
      else throw new IllegalArgumentException(s"--$k needs a value")
    }
    val m = b.result()
    Seq("workload", "seed", "seconds", "trace", "work-dir", "bench-dir").foreach(k =>
      require(m.contains(k), s"missing --$k"))
    m
  }

  def line(workload: String, m: Metric, kind: String): String =
    Json.obj("workload" -> workload, "kind" -> kind, "metric" -> m.name, "value" -> m.value,
      "unit" -> m.unit, "samples" -> m.samples)

  def report(workload: String, out0: Outcome, traced: Boolean,
             untracedHeadline: Option[Double], traceFile: Option[String]): Unit = {
    val out = out0.copy(info = out0.info :+ Metric("peak_rss_mb", Stats.peakRssMb(), "MB"))
    out.endToEnd.foreach(m => println(line(workload, m, "end_to_end")))
    out.info.foreach(m => println(line(workload, m, "info")))
    val headline = out.endToEnd.find(_.name == Headline).map(_.value)
    val layers = if (!traced) Nil else {
      val overhead = for (t <- headline; u <- untracedHeadline) yield t / u - 1.0
      val reported = (out.layers :+ Metric("trace.overhead_ratio", overhead.getOrElse(Double.NaN), "ratio"))
        .map(m => m.name -> m).toMap
      PerLayer.all.map { case (n, unit) => reported.getOrElse(n, Metric(n, 0.0, unit)) }
    }
    layers.foreach(m => println(line(workload, m, "per_layer")))
    if (traced) {
      Trace.selfTimes().toSeq.sortBy(_._1).foreach { case (n, (count, total, self)) =>
        println(Json.obj("workload" -> workload, "kind" -> "self_time", "metric" -> s"self_ms.$n",
          "value" -> self, "unit" -> "ms", "samples" -> count, "total_ms" -> total))
      }
      traceFile.foreach(f => Trace.write(java.nio.file.Paths.get(f)))
    }
    out.problems.foreach(p => println(Json.obj("workload" -> workload, "problem" -> p)))
    val shown = if (traced) layers else out.endToEnd
    val metrics = Json.node(shown.map(m => m.name -> Json.node("value" -> m.value, "unit" -> m.unit)): _*)
    println(Json.obj("correct" -> (out.failed == 0 && out.problems.isEmpty),
      "attempted" -> out.attempted, "failed" -> out.failed, "metrics" -> metrics))
  }

  /** The end-to-end metric `trace.overhead_ratio` compares. */
  val Headline = "latency_geomean_ms"

  /** Write `expected/<workload>.json` from the current engine (registry
    * workloads only); every result is computed twice and must agree.
    */
  private def record(ctx: Ctx, w: Workload): Unit = w match {
    case r: RegistryWorkload =>
      val dir = r.dataDir(ctx)
      val res = r.queryNames.map { n =>
        val q = graft.operators.Registry.byName(n)
        val a = Result.of(ctx.spark, q, dir)
        ctx.spark.catalog.clearCache(); graft.functions.TopKByScore.restoreTuning(ctx.spark)
        val b = Result.of(ctx.spark, q, dir)
        ctx.spark.catalog.clearCache(); graft.functions.TopKByScore.restoreTuning(ctx.spark)
        require(a == b, s"$n is not deterministic: $a vs $b")
        n -> a
      }
      val f = new File(ctx.benchDir, s"expected/${r.name}.json")
      f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath, Expected.render(res))
      println(s"wrote ${res.size} expected results to $f")
    case _ => throw new IllegalArgumentException(s"${w.name} has no recorded results")
  }
}

/** Every per-layer metric a traced run reports, with its unit. A layer a
  * workload does not call reports 0.
  */
object PerLayer {
  val all: Seq[(String, String)] =
    RegistryWorkload.AllModules.flatMap { m =>
      Seq("build_s" -> "s", "plan_s" -> "s", "exec_s" -> "s", "shuffle_write_mb" -> "MB",
        "core_util" -> "ratio").map { case (k, u) => s"operators.$m.$k" -> u }
    } ++ Seq(
      "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.gc_s" -> "s",
      "spark.spill_mb" -> "MB", "spark.input_mb" -> "MB",
      "store.EventStore.append.p50_ms" -> "ms", "store.EventStore.append.p90_ms" -> "ms",
      "store.EventStore.append.jobs_per_call" -> "count",
      "store.EventStore.saveIncrement.p50_ms" -> "ms",
      "store.EventStore.saveIncrement.files_per_call" -> "count",
      "store.EventStore.compact.ms" -> "ms",
      "store.ViewStreams.streamEvents.p50_ms" -> "ms", "store.ViewStreams.streamEvents.p90_ms" -> "ms",
      "store.ViewStreams.streamEvents.jobs_per_call" -> "count",
      "store.ViewStreams.streamEvents.events_per_call" -> "count",
      "store.ViewStreams.streamEvents.empty_ratio" -> "ratio",
      "store.ViewStreams.streamEvents.fs_ops_per_call" -> "count",
      "store.ViewStreams.ackBatch.p50_ms" -> "ms", "store.ViewStreams.ackBatch.fs_ops_per_call" -> "count",
      "store.SharedLog.append.p50_ms" -> "ms", "store.SharedLog.append.p90_ms" -> "ms",
      "store.SharedLog.append.jobs_per_call" -> "count",
      "store.SharedLog.append.conflict_ratio" -> "ratio",
      "store.SharedLog.append.fs_ops_per_call" -> "count",
      "store.SharedLog.resync.p50_ms" -> "ms",
      "generator.lateness_p90_ms" -> "ms", "fs.bytes_written_mb" -> "MB", "jvm.gc_s" -> "s",
      "trace.overhead_ratio" -> "ratio")
}
