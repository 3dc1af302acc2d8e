package perfbench

import graft.operators.{Q, Registry}
import org.apache.spark.sql.SparkSession

/** Registry queries run by one analyst: a closed loop with one client,
  * one query at a time, in an order the seed permutes.
  *
  *  1. Set-up: read every table once and run [[warmUp]] (three times;
  *     the median counts).
  *  2. One timed pass: a query's wall runs from the `Q.run` call until
  *     `collect()` has drained its last partition. Each query runs once
  *     in the process, so its wall includes its first-execution costs
  *     (code generation, first use of its operators), as for an analyst
  *     running it once in a fresh session.
  *  3. After each query, outside its wall: compare row count and digest
  *     with `expected/<workload>.json`, drop cached data and undo the
  *     session tuning an operator applied for its own execution.
  */
final class RegistryWorkload(val name: String, modules: Seq[(String, Seq[String])])
    extends Workload {
  import RegistryWorkload.Timing

  private val queries: Seq[(String, Q)] =
    for ((module, names) <- modules; n <- names) yield module -> Registry.byName(n)

  def queryNames: Seq[String] = queries.map(_._2.name)

  def dataDir(ctx: Ctx): String = new java.io.File(ctx.benchDir, "data/sf0.001").getPath
  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = dataDir(ctx)
    val setupReps = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").count())
      warmUp(spark, dir)
      (System.nanoTime() - t0) / 1e9
    }
    val expected = Expected.load(new java.io.File(ctx.benchDir, s"expected/$name.json"))
    val order = new scala.util.Random(ctx.seed).shuffle(queries)
    var attempted = 0L
    var failed = 0L
    val problems = Seq.newBuilder[String]
    Log(s"$name: set-up done; timed pass")
    val window = new Window(ctx)
    val walls = scala.collection.mutable.Map.empty[String, Timing]
    order.foreach { case (module, q) =>
      attempted += 1
      timed(spark, module, q, dir) match {
        case Left(e) =>
          failed += 1; problems += s"${q.name}: ${e.toString.take(200)}"
        case Right((t, rows)) =>
          walls(q.name) = t
          val got = Result(rows.length.toLong, Digest.of(rows))
          expected.get(q.name) match {
            case Some(exp) if exp == got => ()
            case Some(exp) =>
              failed += 1
              problems += s"${q.name}: got ${got.rows} rows digest ${got.digest}, expected ${exp.rows} rows digest ${exp.digest}"
            case None =>
              failed += 1; problems += s"${q.name}: no expected result recorded"
          }
      }
      reset(spark)
    }
    window.close()
    val liveHeap = Stats.liveHeapMb()
    Log(s"$name: timed pass done")

    val perQuery = walls.map { case (n, t) => n -> t.wallS }.toSeq
    val wallsS = perQuery.map(_._2)
    val suite = wallsS.sum
    val e2e = Seq(
      Metric("setup_s", ctx.sessionStartS + Stats.median(setupReps), "s", setupReps.size),
      Metric("latency_geomean_ms", Stats.geomean(wallsS) * 1000, "ms", wallsS.size),
      Metric("work_s", suite, "s", wallsS.size),
      Metric("live_heap_mb", liveHeap, "MB"))
    val info = Seq(
      Metric("latency_p50_ms", Stats.median(wallsS) * 1000, "ms", wallsS.size),
      Metric("latency_p90_ms", Stats.pct(wallsS, 90) * 1000, "ms", wallsS.size),
      Metric("suite_s", suite, "s", wallsS.size),
      Metric("query_geomean_s", Stats.geomean(wallsS), "s", wallsS.size),
      Metric("error_rate", failed.toDouble / attempted, "ratio", attempted.toInt)) ++
      perQuery.sortBy(_._1).map { case (n, w) => Metric(s"query.$n.wall_s", w, "s") }

    val layers = if (!ctx.traced) Nil else {
      val byModule = walls.toSeq.map { case (n, t) =>
        queries.find(_._2.name == n).get._1 -> t
      }.groupBy(_._1)
      RegistryWorkload.AllModules.flatMap { m =>
        val ts = byModule.getOrElse(m, Nil).map(_._2)
        def total(f: Timing => Double) = ts.map(f).sum
        val build = total(_.buildS)
        val exec = total(_.drainS)
        val layer = s"operators.$m"
        val runS = window.counter(s"$layer.run_ns") / 1e9
        Seq(
          Metric(s"$layer.build_s", build, "s", ts.size),
          Metric(s"$layer.plan_s", total(_.planS), "s", ts.size),
          Metric(s"$layer.exec_s", exec, "s", ts.size),
          Metric(s"$layer.shuffle_write_mb",
            window.counter(s"$layer.shuffle_write_bytes") / 1e6, "MB"),
          Metric(s"$layer.core_util",
            if (build + exec > 0) runS / ((build + exec) * ctx.cores) else 0.0, "ratio"))
      } ++ window.common
    }
    Outcome(e2e, info, layers, attempted, failed, problems.result())
  }

  private def timed(spark: SparkSession, module: String, q: Q,
                    dir: String): Either[Throwable, (Timing, Array[org.apache.spark.sql.Row])] =
    try {
      Layers.within(spark, s"operators.$module") {
        val t0 = System.nanoTime()
        val df = Trace.span(s"operators.$module.build")(q.run(spark, dir))
        val t1 = System.nanoTime()
        val rows = Trace.span(s"operators.$module.exec")(df.collect())
        val t2 = System.nanoTime()
        val plan = df.queryExecution.tracker.phases
          .filter { case (k, _) => Set("analysis", "optimization", "planning")(k) }
          .values.map(_.durationMs).sum / 1000.0
        Right((Timing((t2 - t0) / 1e9, (t1 - t0) / 1e9, plan, (t2 - t1) / 1e9), rows))
      }
    } catch { case e: Throwable => Left(e) }

  /** Session-wide first-use costs (code generation, a join, a shuffle,
    * a window, a sort, string functions), paid in set-up so that they do
    * not land on whichever query the seed puts first. Each query still
    * pays the first use of its own operators and kernels.
    */
  private def warmUp(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val o = spark.read.parquet(s"$dir/orders.parquet")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority", "l_returnflag")
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"),
        countDistinct("l_partkey").as("parts"))
      .withColumn("rank", rank().over(Window.partitionBy("l_returnflag").orderBy(desc("rev"))))
      .orderBy("o_orderpriority", "l_returnflag")
      .collect()
    spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .groupBy("w").count()
      .orderBy(desc("count"))
      .limit(10)
      .collect()
  }

  /** Between queries: drop cached data, undo session tuning an operator
    * applied for its own execution, and collect garbage so Spark's
    * cleaner releases the shuffle files and broadcasts of finished
    * queries.
    */
  private def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.functions.TopKByScore.restoreTuning(spark)
    System.gc()
  }
}

object RegistryWorkload {
  /** One query's wall and its parts, seconds. */
  final case class Timing(wallS: Double, buildS: Double, planS: Double, drainS: Double)

  val AllModules: Seq[String] = Seq("RelationalQueries", "EventStoreQueries", "LayoutQueries",
    "TextDedupQueries", "CorpusQueries", "IncrementalDedup", "EmbIncrementalDedup",
    "DocSearchIndex", "BpeTokenizer", "QualityClassifier", "TrigramIndex",
    "EmbeddingQueries", "MultimodalQueries")

  /** One workload over every operator module. The first four queries
    * are planner-, join-, window- and shuffle-bound and call no
    * `graft.functions` kernel; the other ten are dominated by expression
    * kernels, local model fits and published indexes. Per-query walls
    * and per-module layer metrics tell the two halves apart.
    */
  val registry = new RegistryWorkload("registry", Seq(
    "RelationalQueries" -> Seq("q7_nation_volume", "w3_running_sum"),
    "EventStoreQueries" -> Seq("es_session_window"),
    "LayoutQueries" -> Seq("es_zorder_morton"),
    "TextDedupQueries" -> Seq("doc_token_count"),
    "CorpusQueries" -> Seq("doc_sample_weighted"),
    "IncrementalDedup" -> Seq("doc_dedup_incremental"),
    "EmbIncrementalDedup" -> Seq("emb_search_index"),
    "DocSearchIndex" -> Seq("doc_search_index"),
    "BpeTokenizer" -> Seq("doc_bpe_tokenize"),
    "QualityClassifier" -> Seq("doc_quality_clf_model"),
    "TrigramIndex" -> Seq("doc_substr_search"),
    "EmbeddingQueries" -> Seq("emb_ann_ivf"),
    "MultimodalQueries" -> Seq("mm_audio_features")))
}
