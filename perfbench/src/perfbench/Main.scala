package perfbench

import graft.GraftSession

/** One benchmark run inside one JVM: session, the workload's inputs and
  * fixed warm-up (together the set-up), then `--seconds` of timed
  * operations. Writes `result.json` (and `spans.jsonl` when traced) into
  * the run directory; `perfbench/run.py` turns that into the result line.
  *
  * Usage: perfbench.Main --workload serve|produce --seed N
  *   --seconds S --trace 0|1 --dir RUN_DIR --launch-ms EPOCH_MS
  */
object Main {

  /** One timed operation: its class, latency, and whether its output
    * matched the independent computation. */
  final case class Sample(kind: String, ms: Double, ok: Boolean)

  trait Workload {
    /** Generates the inputs and runs the fixed warm-up. */
    def setup(): Unit
    /** Runs whole rounds of operations for about `seconds`: a closed
      * loop until the deadline, or a pass count fixed by `seconds`; returns
      * the samples and the timed wall seconds. */
    def run(seconds: Double): (Seq[Sample], Double)
    /** Workload-specific per-layer figures for the timed window (traced
      * runs only; called after the listener queue has drained). */
    def layers(samples: Seq[Sample], d: Map[String, Long]): Map[String, Double]
    /** Facts about the run for the log, not metrics. */
    def info: Map[String, Any] = Map.empty
  }

  /** Every per-layer metric; one a workload does not exercise reads 0. */
  val LayerNames: Seq[String] = Seq(
    "sources.open_ms", "sources.scan_chunks", "sources.cells_per_result",
    "sources.bytes_read", "sources.decode_mb_per_s.blosc",
    "sources.decode_mb_per_s.zlib", "sources.decode_mb_per_s.zstd",
    "sources.write_s", "sources.bytes_written", "sources.stored_bytes_per_cell",
    "plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms",
    "engine.jobs", "engine.stages", "engine.tasks", "engine.sched_delay_ms",
    "engine.task_cpu_ms", "engine.shuffle_write_bytes",
    "engine.shuffle_read_bytes", "engine.spill_bytes", "engine.cached_after_op",
    "operators.render_ms", "operators.driver_ms", "jvm.gc_ms",
    "jvm.heap_peak_mb", "serve.tile.p50_ms", "serve.series.p50_ms",
    "serve.stats.p50_ms")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val dir = a("dir")
    val launchMs = a("launch-ms").toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)

    val spark = GraftSession.builder(cpus)
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.local.dir", s"$dir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - launchMs) / 1000.0
    try {
      val trace = new Trace(spark, traced)
      val w: Workload = workload match {
        case "serve" => new Serve(spark, trace, seed, s"$dir/serve")
        case "produce" => new Produce(spark, trace, seed, s"$dir/produce")
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      w.setup()
      val setupS = (System.currentTimeMillis() - launchMs) / 1000.0
      trace.mark()
      val (samples, wallS) = w.run(seconds)
      val d = trace.deltas()
      val lat = samples.map(_.ms)
      val (tailMs, tailLevel) = Stats.tail(lat)
      val metrics = Map(
        "setup_s" -> setupS,
        "ops_per_s" -> samples.size / wallS,
        "p50_ms" -> Stats.pct(lat, 0.5),
        "tail_ms" -> tailMs)
      val layers =
        if (!traced) Map.empty[String, Double]
        else {
          val n = samples.size.toDouble
          val plansMs = d("analysis_ms") + d("optimization_ms") + d("planning_ms")
          val common = Map(
            "plans.analysis_ms" -> d("analysis_ms") / n,
            "plans.optimization_ms" -> d("optimization_ms") / n,
            "plans.planning_ms" -> d("planning_ms") / n,
            "engine.jobs" -> d("jobs") / n,
            "engine.stages" -> d("stages") / n,
            "engine.tasks" -> d("tasks") / n,
            "engine.sched_delay_ms" -> d("sched_delay_ms") / n,
            "engine.task_cpu_ms" -> d("task_cpu_ns") / 1e6 / n,
            "engine.shuffle_write_bytes" -> d("shuffle_write_bytes") / n,
            "engine.shuffle_read_bytes" -> d("shuffle_read_bytes") / n,
            "engine.spill_bytes" -> d("spill_bytes") / n,
            "engine.cached_after_op" -> d("cached_after_op") / n,
            "operators.driver_ms" -> (lat.sum - d("job_wall_ms") - plansMs) / n,
            "sources.bytes_read" -> d("rchar") / n,
            "jvm.gc_ms" -> d("gc_ms").toDouble,
            "jvm.heap_peak_mb" -> d("heap_peak_bytes") / 1048576.0)
          val all = LayerNames.map(_ -> 0.0).toMap ++ common ++ w.layers(samples, d)
          require(all.keySet == LayerNames.toSet,
            s"unknown layer metrics: ${all.keySet -- LayerNames}")
          all
        }
      trace.writeSpans(s"$dir/spans.jsonl")
      val byKind = samples.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, s) =>
        k -> Map("n" -> s.size, "failed" -> s.count(!_.ok),
          "p50_ms" -> Stats.pct(s.map(_.ms), 0.5))
      }.toMap
      val out = new java.io.PrintWriter(s"$dir/result.json", "UTF-8")
      try out.println(Json.obj(
        "attempted" -> samples.size, "failed" -> samples.count(!_.ok),
        "metrics" -> metrics, "layers" -> layers,
        "info" -> (w.info ++ Map("by_kind" -> byKind, "timed_wall_s" -> wallS,
          "session_s" -> sessionS, "tail_level" -> tailLevel))))
      finally out.close()
    } finally spark.stop()
  }
}
