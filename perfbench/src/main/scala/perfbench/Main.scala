package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import Workloads.{median, percentile}

/**
 * Benchmark entry point:
 * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> [--trace-file <f>]`.
 *
 * Creates a `local[4]` session, runs the workload's set-up [[SetupReps]]
 * times and its warm-up once, then repeats its unit operation for `--seconds` from one client,
 * checking every output. With `--trace 1` it alternates an untraced and a
 * traced operation and reports per-layer figures plus the tracing overhead.
 * The last stdout line is the JSON result.
 */
object Main {
  val SetupReps = 3

  /** Every per-layer metric with its unit; a traced run reports all of
    * them, 0 for the layers its workload does not exercise. */
  val LayerUnits: Seq[(String, String)] = Seq(
    "ingest.extract.wall_s" -> "s", "ingest.extract.cpu_s" -> "s",
    "ingest.extract.kept_frac" -> "ratio",
    "expr.vectorize.wall_s" -> "s", "expr.vectorize.cpu_s" -> "s",
    "expr.vectorize.chunks" -> "count",
    "store.write_vectors.wall_s" -> "s", "store.write_vectors.shuffle_bytes" -> "bytes",
    "store.write_vectors.files" -> "count", "store.bytes_written" -> "bytes",
    "store.write_meta.wall_s" -> "s", "create.jobs" -> "count",
    "embed.query.us" -> "us",
    "query.search.wall_ms" -> "ms", "query.search.driver_ms" -> "ms",
    "query.search.jobs" -> "count", "query.search.cpu_ms" -> "ms",
    "query.lookup.wall_ms" -> "ms", "query.lookup.jobs" -> "count",
    "query.lookup.kept_frac" -> "ratio",
    "format.citations.wall_ms" -> "ms", "format.citations.jobs" -> "count",
    "rag.ask.jobs" -> "count", "rag.ask.driver_ms" -> "ms",
    "query.search_many.wall_ms" -> "ms", "query.search_many.cpu_ms" -> "ms",
    "query.search_many.driver_ms" -> "ms", "query.search_many.jobs" -> "count",
    "query.search_many.shuffle_bytes" -> "bytes", "query.search_many.input_bytes" -> "bytes",
    "ops.candidates.wall_s" -> "s", "ops.candidates.cpu_s" -> "s",
    "ops.candidates.pairs" -> "count",
    "ops.verify.wall_s" -> "s", "ops.verify.cpu_s" -> "s", "ops.verify.useful_frac" -> "ratio",
    "ops.clusters.wall_s" -> "s", "ops.clusters.jobs" -> "count",
    "ops.clusters.ckpt_peak_mb" -> "MB", "ops.drop.wall_s" -> "s",
    "trace.overhead_frac" -> "ratio")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def opt(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      val sessionS =
        (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
      val w = Workloads(workload, spark, seed, work, tracer)
      val setups = (0 until SetupReps).map(rep => timeMs(w.setup(rep)) / 1e3)
      val warmS = timeMs(w.warmUp()) / 1e3
      System.err.println(f"[perfbench] session ${sessionS}%.2f s, set-ups " +
        setups.map(x => f"$x%.2f").mkString(" ") + f" s, warm-up ${warmS}%.2f s")

      var attempted = 0
      var failed = 0
      val latMs = scala.collection.mutable.ArrayBuffer.empty[Double]
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var i = 0
      // a traced run needs one operation of each kind
      while (System.nanoTime() < deadline || (trace && i < 2)) {
        val traced = tracer.filter(_ => i % 2 == 1)
        val t0 = System.nanoTime()
        val ok = try traced.fold(w.op(i))(w.traced(i, _)) catch {
          case e: Exception => e.printStackTrace(); false
        }
        if (traced.isEmpty) latMs += (System.nanoTime() - t0) / 1e6
        attempted += 1
        if (!ok) failed += 1
        i += 1
      }
      val heapMb = retainedHeapMb()
      System.err.println("[perfbench] op ms " + latMs.map(x => f"$x%.0f").mkString(" "))

      val setupS = sessionS + median(setups) + warmS
      val lat = latMs.toSeq
      val p50 = median(lat)
      println(s"""{"workload": "$workload", "seed": $seed, "corpus": ${w.corpus.json}}""")
      val headline = Seq(("setup_s", setupS, "s"), ("session_s", sessionS, "s"),
        ("op_p50_ms", p50, "ms"), ("op_p95_ms", percentile(lat, 95), "ms"),
        ("ops", lat.length.toDouble, "count")) ++ w.headline(lat) ++
        Seq(("retained_heap_mb", heapMb, "MB"),
          ("failed_frac", failed.toDouble / math.max(attempted, 1), "failed/attempted"))
      println(headline.map { case (k, v, u) => s"$k=${Json.num(v)} $u" }
        .mkString(s"[perfbench $workload] ", "; ", ""))

      val metrics: Seq[(String, Double, String)] = tracer match {
        case None => Seq(("setup_s", setupS, "s"), ("op_p50_ms", p50, "ms"),
          ("retained_heap_mb", heapMb, "MB"))
        case Some(t) =>
          val rs = t.reports()
          opts.get("trace-file").foreach(f =>
            Files.write(Paths.get(f), (t.json(rs) + "\n").getBytes(StandardCharsets.UTF_8)))
          val tracedMs = median(w.tracedWallMs(rs))
          val overhead = Workloads.ratio(tracedMs, p50) - 1
          println(f"[perfbench $workload] tracing overhead: traced stages $tracedMs%.1f ms " +
            f"vs untraced $p50%.1f ms per op (${overhead * 100}%+.1f%%)")
          val got = w.layers(rs) + ("trace.overhead_frac" -> overhead)
          LayerUnits.map { case (k, u) => (k, got.getOrElse(k, 0.0), u) }
      }
      val body = metrics.map { case (k, v, u) => s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }
      println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
        s""""metrics": {${body.mkString(", ")}}}""")
    } finally spark.stop()
  }

  private def timeMs(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e6
  }

  /** Driver heap still referenced after a full collection. Spark frees
    * cached and checkpointed blocks from its cleaner thread once their
    * owners are collected, so collect, let it run, and collect again. */
  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    for (_ <- 0 until 3) { mem.gc(); Thread.sleep(300) }
    mem.gc()
    mem.getHeapMemoryUsage.getUsed / 1e6
  }
}
