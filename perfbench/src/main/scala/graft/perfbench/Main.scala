package graft.perfbench

import java.nio.file.{Files, Paths}

/** Benchmark entry point: one workload, one seed, one run.
  *
  *   --workload trickle_pgoutput|fanout_mixed
  *   --seed n --seconds s --trace 0|1 --work dir --repo dir --source-fp h
  *   [--prepare 1] [--prepare-s t]
  *
  * `--prepare 1` only materializes the seed's inputs and exits; run.py
  * does that in a JVM of its own, so the measuring JVM starts cold on
  * every seed. `--trace 0` measures the end-to-end metrics with tracing
  * off; `--trace 1` runs the same inputs once untraced and once traced and
  * reports the per-layer metrics plus the tracing overhead. The full
  * record (host shape, provenance, samples) lands in <work>/results; the
  * last stdout line is the result object. */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "apply_eps" -> "events/s", "freshness_s_p50" -> "s",
    "freshness_s_p95" -> "s", "cpu_s_per_mevent" -> "s", "peak_rss_mb" -> "MiB",
    "bytes_written_per_event" -> "B")

  /** Every per-layer metric with its unit; a layer a workload bypasses
    * reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "operators.replay.fold_s" -> "s", "operators.replay.stats_s" -> "s",
    "operators.replay.merge_write_s" -> "s",
    "operators.replay.shuffle_bytes_per_event" -> "B",
    "operators.replay.keys_per_dml_event" -> "ratio",
    "operators.replay.driver_self_s" -> "s",
    "operators.replay.jobs_per_batch" -> "count",
    "operators.replay.tasks_per_batch" -> "count",
    "operators.replay.route_miss_batches" -> "count",
    "operators.replay.route_miss_s" -> "s",
    "operators.history.apply_s" -> "s", "operators.history.jobs_per_batch" -> "count",
    "operators.signaturestore.apply_s" -> "s",
    "operators.signaturestore.jobs_per_batch" -> "count",
    "streaming.trigger_s_p50" -> "s", "streaming.addbatch_s_p50" -> "s",
    "streaming.overhead_s_p50" -> "s", "streaming.latest_offset_s_p50" -> "s",
    "lake.snapshot_read_s_p50" -> "s", "lake.versions_end" -> "count",
    "lake.manifest_bytes_end" -> "B", "lake.touched_bucket_frac" -> "ratio",
    "lake.zone_pruned_file_frac" -> "ratio", "lake.files_rewritten_per_batch" -> "count",
    "lake.rows_written_per_changed_row" -> "ratio", "lake.live_files_end" -> "count",
    "lake.live_bytes_per_row" -> "B",
    "sources.pgoutput.decode_s" -> "s", "sources.pgoutput.decode_events_per_s" -> "events/s",
    "sources.pgoutput.bytes_per_event" -> "B",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.executor_cpu_s" -> "s",
    "spark.gc_s" -> "s", "spark.shuffle_write_bytes" -> "B", "spark.input_bytes" -> "B",
    "spark.spill_bytes" -> "B",
    "scaling.eps_1core" -> "events/s", "scaling.efficiency" -> "ratio",
    "trace.overhead_frac" -> "ratio")

  val workloads: Map[String, Workload] =
    Seq(TricklePgoutput, FanoutMixed).map(w => w.name -> w).toMap

  private def gitCommit(repo: String): String = {
    val git = Paths.get(repo, ".git")
    try {
      val head = Files.readString(git.resolve("HEAD")).trim
      if (!head.startsWith("ref: ")) head
      else {
        val ref = head.stripPrefix("ref: ")
        val loose = git.resolve(ref)
        if (Files.exists(loose)) Files.readString(loose).trim
        else {
          import scala.jdk.CollectionConverters._
          Files.readAllLines(git.resolve("packed-refs")).asScala
            .find(_.endsWith(" " + ref)).map(_.takeWhile(_ != ' ')).getOrElse("unknown")
        }
      }
    } catch { case _: java.io.IOException => "unknown (not a git checkout)" }
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = workloads.getOrElse(args("workload"),
      throw new IllegalArgumentException(s"unknown workload ${args("workload")}"))
    val trace = args("trace") == "1"
    val ctx = Ctx(args("work"), args("seed").toLong, args("seconds").toInt, args("source-fp"))
    val cores = Common.cores
    if (args.get("prepare").contains("1")) {
      val s = Common.session(ctx.work)
      try wl.prepare(s, ctx) finally s.stop()
      sys.exit(0)
    }
    Files.createDirectories(Paths.get(ctx.work, "results"))

    val ran = scala.collection.mutable.ArrayBuffer[(String, UnitResult)]()
    def run(kind: String, n: Int, hooks: Option[Hooks] = None): UnitResult = {
      val r = wl.unit(ctx, n, hooks)
      ran += kind -> r
      r
    }
    var probeSetups = Seq.empty[Double]
    var metrics = Map.empty[String, Double]
    var hooksOut: Option[Hooks] = None
    wl.warmup(ctx, cores, trace).foreach(ran += "warmup" -> _)

    if (!trace) {
      if (wl == TricklePgoutput) probeSetups = Seq(TricklePgoutput.setupProbe(ctx, cores))
      val r = run("timed", cores)
      if (r.failures.isEmpty && r.keepUp.isEmpty) {
        metrics = Map(
          "setup_s" -> Common.median(r.setupS +: probeSetups),
          "apply_eps" -> r.eps,
          "freshness_s_p50" -> Common.quantile(r.freshness, 0.5),
          "freshness_s_p95" -> Common.quantile(r.freshness, 0.95),
          "cpu_s_per_mevent" -> r.cpuS / r.events * 1e6,
          "peak_rss_mb" -> Common.peakRssMb,
          "bytes_written_per_event" -> r.bytesWritten.toDouble / r.events)
      }
    } else {
      val h = new Hooks
      hooksOut = Some(h)
      val ref = run("untraced", cores)
      val traced = run("traced", cores, Some(h))
      def primary(r: UnitResult): Double =
        if (wl == TricklePgoutput) Common.median(r.freshness) else r.drainS
      val scaling = if (wl != FanoutMixed) Map.empty[String, Double] else {
        val one = run("one_core", 1)
        Map("scaling.eps_1core" -> one.eps,
          "scaling.efficiency" -> ref.eps / (cores * one.eps))
      }
      metrics = PerLayer.map(_._1 -> 0.0).toMap ++ traced.layers ++ scaling +
        ("trace.overhead_frac" -> (primary(traced) / primary(ref) - 1.0))
    }

    val attempted = ran.size
    val failed = ran.count { case (k, r) =>
      r.failures.nonEmpty || (k != "warmup" && r.keepUp.nonEmpty) }
    val shape = Map("nproc" -> cores, "mem_total_mb" -> Common.memTotalMb,
      "master" -> s"local[$cores]", "cores_used" -> cores,
      "jdk" -> System.getProperty("java.version"),
      "scala" -> scala.util.Properties.versionNumberString,
      "spark" -> org.apache.spark.SPARK_VERSION)
    val unitsOut = ran.map { case (k, r) => Map("kind" -> k, "setup_s" -> r.setupS,
      "drain_s" -> r.drainS, "events" -> r.events, "eps" -> r.eps, "cpu_s" -> r.cpuS,
      "bytes_written" -> r.bytesWritten, "freshness_s" -> r.freshness,
      "failures" -> r.failures, "keep_up_failures" -> r.keepUp, "info" -> r.info) }
    val stamp = s"${wl.name}-s${ctx.seed}-t${if (trace) 1 else 0}-${System.currentTimeMillis()}"
    val spansFile = hooksOut.map { h =>
      val p = Paths.get(ctx.work, "results", s"$stamp-spans.jsonl")
      h.tracer.dump(p)
      p.toString
    }
    val record = Map(
      "workload" -> wl.name, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> trace, "host" -> shape,
      "provenance" -> Map("git_commit" -> gitCommit(args("repo")),
        "source_fingerprint" -> args.getOrElse("source-fp", "unknown"),
        "sizes" -> wl.sizes(ctx)),
      "prepare_s" -> args.get("prepare-s").map(_.toDouble), "setup_probes_s" -> probeSetups,
      "attempted" -> attempted, "failed" -> failed,
      "fail_ratio" -> failed.toDouble / math.max(1, attempted),
      "metrics" -> metrics, "units" -> unitsOut, "spans_file" -> spansFile)
    val recordFile = Paths.get(ctx.work, "results", s"$stamp.json")
    Files.writeString(recordFile, Common.json(record) + "\n")
    System.err.println(s"perfbench: record $recordFile")
    if (metrics.isEmpty) {
      System.err.println("perfbench: no unit passed its checks; no result")
      sys.exit(1)
    }
    val unitOf = (if (trace) PerLayer else EndToEnd).toMap
    println(Common.json(Map(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics.toSeq.sortBy(_._1).map {
        case (k, v) => k -> Map("value" -> v, "unit" -> unitOf(k)) }: _*))))
    sys.exit(0)
  }
}
