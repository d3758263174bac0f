package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The benchmark's one entry point: one workload, one seed, one run.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>
  * Main --selftest --out <dir>
  * Main --train --out <dir>
  * }}}
  *
  * `--train` runs a small instance of every workload once: run.py
  * records the classes it loads into a class-data-sharing archive, which
  * shortens every later JVM start.
  *
  * A run measures set-up (three times), then a single-client closed
  * loop of the workload's fixed number of iterations, and prints, last
  * on stdout, one JSON object with the end-to-end metrics (`--trace 0`)
  * or the per-layer metrics of a traced run (`--trace 1`). The loop
  * does not stop at `--seconds`: a run on a slow machine times the same
  * calls as a run on a fast one. The workloads are sized so that the
  * loop takes about BENCHMARK.json's `run_seconds` on a 4-core machine;
  * `--seconds` is recorded with the result.
  */
object Main {
  val SetupReps = 3

  /** The end-to-end metrics every workload reports: (name, unit). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "build_mbps" -> "MB/s", "write_p50_s" -> "s",
    "read_p50_s" -> "s", "stored_bytes_ratio" -> "ratio")
  /** Printed, not in the result line: build_mbps rests on the two warm
    * set-ups alone, and setup_s already bounds the build call.
    */
  val Unlisted: Set[String] = Set("build_mbps")

  /** Spark counts reported per call kind, medians per call. */
  val SpanCounts: Seq[String] = Seq("jobs", "stages", "tasks",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_bytes", "output_bytes", "files_read", "partitions_read",
    "rows_scanned")

  final case class Args(workload: String = "", seed: Long = 1L,
                        seconds: Double = 10, trace: Boolean = false,
                        out: String = ".bench_build/perfbench",
                        selftest: Boolean = false, train: Boolean = false)

  def parse(args: List[String], a: Args = Args()): Args = args match {
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest =>
      require(v == "0" || v == "1", s"--trace takes 0 or 1, got $v")
      parse(rest, a.copy(trace = v == "1"))
    case "--out" :: v :: rest => parse(rest, a.copy(out = v))
    case "--selftest" :: rest => parse(rest, a.copy(selftest = true))
    case "--train" :: rest => parse(rest, a.copy(train = true))
    case Nil => a
    case other => throw new IllegalArgumentException(s"unknown arguments: $other")
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList)
    require(args.selftest || args.train || Workload.names.contains(args.workload),
      s"--workload must be one of ${Workload.names.mkString(", ")}")
    val out = Files.createDirectories(Paths.get(args.out).toAbsolutePath)
    val runId = s"${args.workload}-${args.seed}-${System.currentTimeMillis()}"
    val work = out.resolve("work").resolve(runId)
    val spark = session(out)
    val code =
      try {
        if (args.selftest) SelfTest.run(spark, work)
        else if (args.train) {
          Workload.names.foreach(n => SelfTest.small(spark, work.resolve(n), n))
          0
        } else measure(spark, args, out, work, runId)
      }
      finally {
        spark.stop()
        Fs.deleteTree(work)
      }
    System.out.flush()
    sys.exit(code)
  }

  private def session(out: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  private def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  private def measure(spark: SparkSession, args: Args, out: Path, work: Path,
                      runId: String): Int = {
    val name = args.workload
    println(s"# perfbench $name seed=${args.seed} seconds=${args.seconds} " +
      s"trace=${if (args.trace) 1 else 0} cores=${Runtime.getRuntime.availableProcessors()}")
    val started = System.nanoTime()
    def phase(p: String): Unit = System.err.println(
      f"perfbench: $p at ${(System.nanoTime() - started) / 1e9}%.1f s")
    val epoch = Seq.newBuilder[(String, Double)]
    def calibrate(when: String): Unit = {
      epoch += s"calibrate_cpu_${when}_s" -> graft.Bench.calibrate(spark)
      epoch += s"calibrate_io_${when}_s" -> graft.Bench.calibrateIo(spark)
    }
    // The first set-up pays the cold JVM's costs, and the median of the
    // three keeps them out of setup_s and build_mbps.
    val tracer = if (args.trace) Some(new Tracer(spark, runId)) else None
    val run = new Run(spark, tracer, work.resolve("main"))
    val setupSecs = Seq.newBuilder[Double]
    var w: Workload = null
    var iters = 0
    var stored = Double.NaN
    var storeUsage = (0L, 0L)
    var gc = Double.NaN
    try {
      (0 until SetupReps).foreach { r =>
        if (r > 0) Fs.deleteTree(work.resolve("main").resolve(s"setup${r - 1}"))
        val t0 = System.nanoTime()
        w = Workload(name, run, args.seed, small = false)
        w.setup(run.dir(s"setup$r"))
        setupSecs += (System.nanoTime() - t0) / 1e9
      }
      phase("set-ups done")
      calibrate("start")

      // one write sample and one read-phase sample per iteration
      def readSeconds = Workload.ReadKinds.flatMap(run.samples.get).map(_.sum).sum
      val gc0 = gcSeconds()
      while (iters < w.iterations) {
        val r0 = readSeconds
        w.step(iters)
        run.sample("read_phase", readSeconds - r0)
        iters += 1
      }
      gc = gcSeconds() - gc0
      stored = w.storedRatio
      storeUsage = Fs.usage(w.storePath)
      phase(s"loop done ($iters iterations)")
      w.finish()
    } catch {
      case _: CallFailed => () // counted; report what was measured
    }
    calibrate("end")
    phase("calibrated")

    def med(k: String) = run.samples.get(k).filter(_.nonEmpty)
      .map(s => Stats.median(s.toSeq)).getOrElse(Double.NaN)
    val e2e: Seq[(String, Double, String)] = {
      val v = Map(
        "setup_s" -> Some(setupSecs.result()).filter(_.nonEmpty).map(Stats.median)
          .getOrElse(Double.NaN),
        "build_mbps" -> (if (w == null) Double.NaN else w.buildBytes / med("build") / 1e6),
        "write_p50_s" -> med("write"),
        "read_p50_s" -> med("read_phase"),
        "stored_bytes_ratio" -> stored)
      EndToEnd.map { case (n, u) => (n, v(n), u) }
    }

    println(s"# epoch context (not used to normalize any metric): " +
      epoch.result().map { case (k, v) => s"$k=${Json.num(v)}" }.mkString(" "))
    println(s"# iterations=$iters attempted=${run.attempted} failed=${run.failed} " +
      s"ops_failed_ratio=${Json.num(run.failed.toDouble / math.max(1, run.attempted))}")
    e2e.foreach { case (n, v, u) => println(s"e2e $n = ${Json.num(v)} $u") }
    if (w != null) scala.util.Try(w.namedMetrics).foreach(_.foreach { case (n, v, u) =>
      println(s"metric $n = ${Json.num(v)} $u")
    })
    // printed, not an end-to-end metric: it follows the garbage
    // collector's heap sizing and varies too much between runs
    val peakRss = peakRssMb()
    println(s"metric peak_rss_mb = ${Json.num(peakRss)} MB")
    run.failures.foreach(f => println(s"FAILED $f"))

    val perLayer: Seq[(String, Double, String)] = tracer match {
      case None => Nil
      case Some(t) =>
        t.close()
        traced(t.report(), run, w, name, args.seed, out, gc, storeUsage)
    }
    val results = Files.createDirectories(out.resolve("results"))
    val resultFile = results.resolve(s"$name-seed${args.seed}-trace${if (args.trace) 1 else 0}.json")
    if (args.trace) overhead(results.resolve(s"$name-seed${args.seed}-trace0.json"), e2e)
    Files.write(resultFile, Json.obj(Seq(
      "run_id" -> Json.str(runId), "workload" -> Json.str(name),
      "seed" -> args.seed.toString, "seconds" -> Json.num(args.seconds),
      "iterations" -> iters.toString,
      "epoch" -> Json.obj(epoch.result().map { case (k, v) => k -> Json.num(v) }),
      "e2e" -> Json.obj(e2e.map { case (n, v, _) => n -> Json.num(v) }),
      "peak_rss_mb" -> Json.num(peakRss),
      "per_layer" -> Json.obj(perLayer.map { case (n, v, _) => n -> Json.num(v) }),
      "samples" -> Json.obj(run.samples.toSeq.map { case (k, s) =>
        k -> Json.arr(s.toSeq.map(Json.num)) }),
      "failures" -> Json.arr(run.failures.toSeq.map(Json.str)))).getBytes(UTF_8))

    val reported = if (args.trace) perLayer else e2e.filterNot(m => Unlisted(m._1))
    println(Json.obj(Seq(
      "correct" -> (run.failed == 0).toString,
      "attempted" -> run.attempted.toString,
      "failed" -> run.failed.toString,
      "metrics" -> Json.obj(reported.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    if (run.failed == 0) 0 else 1
  }

  /** The traced run's outputs: the span file, the self time per layer,
    * the layer-decomposition samples, count drift against the previous
    * traced run on this seed, and the per-layer metrics.
    */
  private def traced(rep: TraceReport, run: Run, w: Workload, name: String,
                     seed: Long, out: Path, gc: Double,
                     storeUsage: (Long, Long)): Seq[(String, Double, String)] = {
    val dir = Files.createDirectories(out.resolve("trace"))
    val spanFile = dir.resolve(s"${rep.runId}.spans.jsonl")
    Files.write(spanFile, rep.spanLines.asJava, UTF_8)
    println(s"# spans: $spanFile (${rep.spans.size} spans, ${rep.jobSpans.size} Spark jobs)")

    val layers = rep.selfByLayer
    val all = layers.map(_._2).sum
    println(f"${"layer"}%-12s ${"self_s"}%10s ${"share"}%7s")
    layers.foreach { case (l, s) => println(f"$l%-12s $s%10.3f ${100 * s / all}%6.1f%%") }
    run.samples.toSeq.filter(_._1.contains('.')).foreach { case (k, s) =>
      println(s"layer $k p50=${Json.num(Stats.median(s.toSeq))} n=${s.size}")
    }

    // exact counts must repeat between two traced runs on one seed
    val counts = rep.exactCounts
    val countFile = dir.resolve(s"$name-seed$seed.counts.tsv")
    if (Files.exists(countFile)) {
      val prev = Files.readAllLines(countFile, UTF_8).asScala.map { l =>
        val Array(span, count, v) = l.split("\t"); (span, count) -> v.toLong
      }.toMap
      val drift = for {
        (span, cs) <- counts; (c, v) <- cs
        p <- prev.get((span, c)) if p != v
      } yield s"count-drift $span $c previous=$p now=$v"
      drift.foreach(println)
      println(s"# counts compared with the previous traced run on seed $seed: " +
        s"${drift.size} differ")
    }
    Files.write(countFile, counts.flatMap { case (span, cs) =>
      cs.map { case (c, v) => s"$span\t$c\t$v" } }.asJava, UTF_8)

    def kindMedians(kind: String): Seq[(String, Double, String)] = {
      val spans = rep.spans.filter(_.kind == kind)
      def m(f: Span => Double) =
        if (spans.isEmpty) 0.0 else Stats.median(spans.map(f))
      val cs = spans.map(s => s -> rep.counts(s)).toMap
      SpanCounts.map { c =>
        val unit = if (c.endsWith("_bytes")) "B" else "count"
        (s"$kind.$c", m(s => cs(s).exact.toMap.apply(c).toDouble), unit)
      }
    }
    def kindTimes(kind: String): Seq[(String, Double, String)] = {
      val spans = rep.spans.filter(_.kind == kind)
      Seq(
        (s"$kind.executor_cpu_s", Stats.median(spans.map(s => rep.counts(s).executorCpuNs / 1e9)), "s"),
        (s"$kind.driver_gap_s", Stats.median(spans.map(rep.driverGapSeconds)), "s"))
    }
    Seq("build", "write", "read").flatMap(k => kindMedians(k) ++ kindTimes(k)) ++
      kindMedians("lookup").filter(m =>
        m._1 == "lookup.jobs" || m._1 == "lookup.files_read") ++
      Seq(
        ("store.files", storeUsage._1.toDouble, "count"),
        ("store.bytes", storeUsage._2.toDouble, "B"),
        ("run.gc_s", gc, "s")) ++
      LayerValues.all.map { case (n, u) =>
        (n, Option(w).map(_.layerValues.toMap.getOrElse(n, 0.0)).getOrElse(0.0), u)
      }
  }

  /** Tracing overhead: this traced run's end-to-end metrics minus the
    * untraced run's on the same seed, when one is on record.
    */
  private def overhead(untraced: Path, e2e: Seq[(String, Double, String)]): Unit =
    if (!Files.exists(untraced))
      println(s"# tracing overhead: no untraced run on record ($untraced)")
    else {
      val base = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(untraced.toFile).get("e2e")
      e2e.foreach { case (n, v, u) =>
        Option(base.get(n)).filter(_.isNumber).map(_.asDouble).foreach { b =>
          println(s"overhead $n traced=${Json.num(v)} untraced=${Json.num(b)} " +
            s"diff=${Json.num(v - b)} $u")
        }
      }
    }
}

/** The workload-specific per-layer metrics; a workload that does not
  * use a layer reports 0 for it.
  */
object LayerValues {
  val all: Seq[(String, String)] = Seq(
    "operators.catalog_links" -> "count",
    "operators.catalog_files" -> "count",
    "operators.catalog_bytes" -> "B",
    "operators.bloom_fill" -> "ratio",
    "operators.bloom_maybe_ratio" -> "ratio",
    "ext.mh_pairs_found" -> "count",
    "ext.mh_pairs_planted" -> "count")
}
