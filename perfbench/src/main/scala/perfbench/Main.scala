package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Declared metrics: the names and units BENCHMARK.json lists. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "items_per_s" -> "1/s",
    "request_p50_ms" -> "ms", "peak_heap_mb" -> "MB")

  /** Spans: name and whether it also reports shuffle and spill. */
  val Spans: Seq[(String, Boolean)] = Seq(
    "io.loadRecords" -> false, "io.loadExisting" -> false, "jats.parseJatsDir" -> false,
    "pipelines.runFulltext" -> true, "io.fulltextSinks" -> false, "pipelines.runIngestAndEmbed" -> false,
    "embed.embedColumn" -> false, "vector.upsert" -> true, "io.parquetSink" -> false,
    "ops.text.removeBoilerplateLines" -> true, "ops.dedup.removeDuplicatedSpans" -> true,
    "ops.text.quality" -> false, "ops.dedup.minhashCandidates" -> true,
    "ops.components.clusterDocuments" -> true, "ops.dedup.keepBest" -> false,
    "ops.sampling.tokenBudgetPerKey" -> true, "ops.ivf.train" -> true, "ops.ivf.search" -> true,
    "vector.knnCosine" -> false)

  val Ratios: Seq[(String, String)] = Seq(
    "enrich.pmcid_hit_frac" -> "fraction", "enrich.resume_skip_frac" -> "fraction",
    "jats.tasks_per_core" -> "ratio", "chunk.char_amplification" -> "ratio",
    "vector.rewrite_per_update" -> "ratio", "ops.text.gate_keep_frac" -> "fraction",
    "ops.dedup.candidate_precision" -> "fraction", "ops.dedup.planted_pair_recall" -> "fraction",
    "ops.ivf.rescored_per_query" -> "fraction", "ops.ivf.recall_at_10" -> "fraction",
    "spark.task_skew" -> "ratio", "trace.overhead_s" -> "s")

  val PerLayer: Seq[(String, String)] = Spans.flatMap { case (s, shuffles) =>
    Seq(s"$s.self_s" -> "s", s"$s.cpu_s" -> "s", s"$s.driver_s" -> "s", s"$s.jobs" -> "count",
      s"$s.rows_out" -> "count") ++
      (if (shuffles) Seq(s"$s.shuffle_mb" -> "MB", s"$s.spill_mb" -> "MB") else Nil)
  } ++ Ratios
}

/** Runs one workload at one seed and prints the result as the last line:
  * `{"correct", "attempted", "failed", "metrics"}`.
  *
  * Untraced (`--trace 0`): set up three times (`setup_s` is the median),
  * warm up with one run, then repeat runs for `--seconds` and report the
  * end-to-end metrics. Traced (`--trace 1`): set up once with spans on,
  * then alternate untraced and traced runs for `--seconds` and report the
  * per-layer metrics, each the median over the traced runs.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val outDir = Paths.get(opt("out")).toAbsolutePath
    require(Workloads.Names.contains(workload), s"unknown workload '$workload'")
    Files.createDirectories(outDir)

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.Sessions.local(cores)
    spark.sparkContext.setLogLevel("WARN")
    try {
      val result = run(spark, workload, seed, seconds, trace, work, outDir, cores)
      println(result)
    } finally spark.stop()
  }

  def run(spark: SparkSession, workload: String, seed: Long, seconds: Double, trace: Boolean,
          work: Path, outDir: Path, cores: Int): String = {
    val wl = Workloads(workload, spark, work.resolve(workload), seed)
    val tracer = Tracer(spark, trace)
    val off = Tracer(spark, enabled = false)
    val tag = s"$workload-seed$seed${if (trace) "-trace" else ""}"
    var attempted = 0; var failed = 0
    val problems = Seq.newBuilder[String]
    def check(): Unit = {
      val (a, f, p) = wl.check()
      attempted += a; failed += f; problems ++= p
    }
    val heapPeaks = Seq.newBuilder[Double]
    def oneRun(t: Tracer, checked: Boolean = true): Option[(Double, Seq[Double])] = {
      // each run starts from a collected heap; its peak is the largest
      // post-GC heap during the run or right after it, outputs still held
      System.gc()
      HeapPeak.reset()
      val r = try {
        val (lat, wall) = Workloads.timed(wl.run(t))
        System.gc()
        heapPeaks += math.max(HeapPeak.peakMb, HeapPeak.usedMb)
        Some((wall, lat))
      } catch {
        case e: Exception =>
          problems += s"run threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
      val (_, checkS) = Workloads.timed(r match {
        case Some(_) => if (checked) check()
        case None => attempted += 1; failed += 1
      })
      spark.catalog.clearCache()
      System.err.println(f"[perfbench] ${if (t.enabled) "traced run" else "run"} ${r.map(_._1).getOrElse(Double.NaN)}%.3f s, check $checkS%.3f s")
      r
    }

    val setupS = if (trace) {
      wl.setup(tracer); Seq.empty[Double]
    } else (1 to 3).map(_ => Workloads.timed(wl.setup(off))._2)
    System.err.println(s"[perfbench] setup ${setupS.mkString(" ")} s")
    Gen.write(outDir.resolve(s"$workload-seed$seed-truth.json"), Json(wl.manifest) + "\n")
    val setupLayers = if (trace) { val (s, t, j) = tracer.collect(); tracer.reset(); Tracer.layerMetrics(s, t, j) } else Map.empty[String, Double]

    // warm-up: JIT and first-use costs, neither checked nor counted
    oneRun(off, checked = false)
    attempted = 0; failed = 0

    val walls = Seq.newBuilder[Double]
    val latencies = Seq.newBuilder[Double]
    val tracedWalls = Seq.newBuilder[Double]
    val layerRuns = Seq.newBuilder[Map[String, Double]]
    val traceLines = Seq.newBuilder[String]
    heapPeaks.clear()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var runs = 0
    while (runs == 0 || elapsed < seconds || (trace && runs < 2)) {
      val traced = trace && runs % 2 == 1
      val t = if (traced) tracer else off
      oneRun(t).foreach { case (wall, lat) =>
        if (traced) {
          val (spans, tasks, jobs) = tracer.collect()
          val self = Tracer.selfSeconds(spans)
          val outside = wall - spans.filter(_.parent < 0).map(_.durS).sum
          val m = Tracer.layerMetrics(spans, tasks, jobs) ++ wl.ratios() ++ Map(
            "spark.task_skew" -> Tracer.taskSkew(tasks),
            "jats.tasks_per_core" -> tasks.count(t => spans.exists(s =>
              s.name == "jats.parseJatsDir" && t.group == s"perfbench-span-${s.id}")).toDouble / cores)
          spans.foreach { s =>
            traceLines += Json.obj("run" -> runs, "span" -> s.name, "id" -> s.id, "parent" -> s.parent,
              "start_s" -> (s.startNs - spans.head.startNs) / 1e9, "dur_s" -> s.durS, "self_s" -> self(s.id),
              "rows_out" -> s.rowsOut)
          }
          traceLines += Json.obj("run" -> runs, "wall_s" -> wall, "span_self_s" -> self.values.sum,
            "outside_s" -> outside, "residual_s" -> (wall - self.values.sum - outside))
          tracedWalls += wall
          layerRuns += m
          tracer.reset()
        } else {
          walls += wall
          latencies ++= lat
        }
      }
      runs += 1
    }
    tracer.close()

    val ws = walls.result()
    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val lat = latencies.result()
        val med = if (ws.isEmpty) Double.NaN else Stats.median(ws)
        Seq(
          ("setup_s", Stats.median(setupS), "s"),
          ("wall_s", med, "s"),
          ("items_per_s", wl.items / med, "1/s"),
          ("request_p50_ms", if (lat.isEmpty) Double.NaN else Stats.median(lat), "ms"),
          ("peak_heap_mb", Stats.median(heapPeaks.result()), "MB"))
      } else {
        val runsM = layerRuns.result()
        val tw = tracedWalls.result()
        val all = Metrics.PerLayer.map { case (n, unit) =>
          val v = if (n == "trace.overhead_s") {
            if (tw.isEmpty || ws.isEmpty) Double.NaN else Stats.median(tw) - Stats.median(ws)
          } else setupLayers.get(n) match {
            case Some(x) => x
            case None =>
              val xs = runsM.flatMap(_.get(n))
              if (xs.isEmpty) 0.0 else Stats.median(xs)
          }
          (n, v, unit)
        }
        // every span and ratio the run recorded must be declared; shuffle
        // and spill are declared only for the spans that shuffle
        val declared = Metrics.PerLayer.map(_._1).toSet
        val unknown = (runsM.flatMap(_.keys) ++ setupLayers.keys).toSet
          .filterNot(n => declared(n) || n.endsWith(".shuffle_mb") || n.endsWith(".spill_mb"))
        require(unknown.isEmpty, s"undeclared per-layer metrics: ${unknown.mkString(", ")}")
        all
      }

    val probs = problems.result()
    val nanMetric = metrics.exists(_._2.isNaN)
    val correct = failed == 0 && attempted > 0 && !nanMetric
    val extra = wl match {
      case w: IngestSearch if !trace => Seq("recall_at_10" -> w.search.recall)
      case _ => Nil
    }
    val record = Json.obj(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "sizes" -> wl.sizes, "items" -> wl.items, "runs" -> ws.size, "traced_runs" -> tracedWalls.result().size,
      "setup_s_samples" -> setupS, "wall_s_samples" -> ws,
      "failed_frac" -> (if (attempted > 0) failed.toDouble / attempted else 1.0),
      "problems" -> probs.take(20), "extra" -> extra.toMap,
      "metrics" -> metrics.map { case (n, v, _) => n -> v }.toMap)
    Gen.write(outDir.resolve(s"$tag.json"), record + "\n")
    if (trace) Gen.write(outDir.resolve(s"$tag.jsonl"), traceLines.result().mkString("", "\n", "\n"))
    System.out.println(s"[perfbench] $workload seed=$seed trace=${if (trace) 1 else 0} runs=${ws.size} " +
      s"attempted=$attempted failed=$failed failed_frac=${if (attempted > 0) failed.toDouble / attempted else 1.0}" +
      extra.map { case (k, v) => s" $k=$v" }.mkString)
    probs.take(5).foreach(p => System.out.println(s"[perfbench] problem: $p"))
    Json.obj("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap)
  }
}
