package perfbench

import java.nio.file.{Path, Paths}
import java.util.SplittableRandom
import scala.collection.mutable
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** One benchmark run: generate the workload's inputs from the seed, set up
  * (Spark session start plus one untimed warm-up operation, three times,
  * median reported), make one unreported warm pass, then run passes of the
  * workload's operations from one closed-loop client thread for the
  * requested seconds, checking each operation's output. With `--trace 1` every other pass runs with the
  * layer collector registered and the single-thread decode profile runs
  * after the loop. Prints a detail record, then the result line.
  */
object Main {
  val SetupReps = 3

  final case class OpRec(kind: String, ms: Double, error: Option[String],
      layer: Map[String, Double])
  final case class PassRec(traced: Boolean, ops: Seq[OpRec]) {
    def wallS: Double = ops.map(_.ms).sum / 1e3
  }

  val EndToEnd: Seq[(String, String)] = Seq("wall_s" -> "s", "op_p50_ms" -> "ms",
    "op_tail_ms" -> "ms", "peak_rss_mb" -> "MB", "setup_s" -> "s")

  val Fits: Seq[String] = IterativeFits.Queries

  val PerLayer: Seq[(String, String)] = {
    val decode = Profile.Stages.map(_ -> "ms") ++ Seq(
      "seamf.codec.compressed_bytes" -> "bytes", "seamf.codec.inflated_bytes" -> "bytes",
      "seamf.codec.ratio" -> "ratio")
    decode ++ decode.map { case (k, u) => k.replaceFirst("^seamf\\.", "seamf.fixture.") -> u } ++
      Seq("trace.overhead_ms" -> "ms") ++
      Collector.ScanMetrics.map(_._2 -> "count") ++
      Seq("sources.seamf.decode_precision" -> "fraction",
        "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
        "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
        "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
        "spark.spill_bytes" -> "bytes", "spark.input_bytes" -> "bytes",
        "spark.output_bytes" -> "bytes", "spark.output_rows" -> "count",
        "spark.busy_frac" -> "fraction", "spark.task_skew" -> "ratio",
        "spark.driver_gap_s" -> "s",
        "streaming.batches" -> "count", "streaming.reported_rows_frac" -> "fraction",
        "lake.write_s" -> "s", "lake.files_written" -> "count",
        "lake.partitions_read" -> "count", "lake.bytes_per_input_byte" -> "ratio",
        "lake.export_sweeps_per_s" -> "1/s") ++
      Fits.flatMap(q => Seq(s"operators.$q.jobs" -> "count",
        s"operators.$q.stages" -> "count", s"operators.$q.wall_s" -> "s"))
  }

  private def session(cores: Int, work: Path): SparkSession = {
    val s = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.expressions.DecodeExpressions.registerAll(s)
    graft.functions.SqlFunctions.registerAll(s)
    s
  }

  private def runOp(spark: SparkSession, w: Workload, op: Op,
      collector: Option[Collector]): OpRec = {
    collector.foreach(_.begin())
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = try Right(op.exec(spark)) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val endMs = System.currentTimeMillis()
    val layer = collector.map(_.end(ms / 1e3, startMs, endMs)).getOrElse(Map.empty)
    val error = out match {
      case Right(o) => try o.check() catch { case NonFatal(e) => Some(e.toString) }
      case Left(e) => Some(s"${op.kind}: $e")
    }
    try w.cleanup(spark) catch { case NonFatal(_) => () }
    OpRec(op.kind, ms, error, layer ++ out.map(_.extras).getOrElse(Map.empty))
  }

  /** The per-layer figures of one traced pass. */
  private def passLayer(p: PassRec, w: Workload, cores: Int): Map[String, Double] = {
    val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    p.ops.foreach(_.layer.foreach { case (k, v) => sums(k) += v })
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val slices = p.ops.filter(_.layer.contains("truth_files"))
    val exportS = p.ops.filter(_.kind == "export").map(_.ms).sum / 1e3
    val fits = Fits.flatMap { q =>
      val ops = p.ops.filter(_.kind == q)
      Seq(s"operators.$q.jobs" -> ops.map(_.layer.getOrElse("spark.jobs", 0.0)).sum,
        s"operators.$q.stages" -> ops.map(_.layer.getOrElse("spark.stages", 0.0)).sum,
        s"operators.$q.wall_s" -> ops.map(_.ms).sum / 1e3)
    }
    sums.toMap ++ fits ++ Map(
      "spark.busy_frac" -> ratio(sums("spark.executor_run_s"), p.wallS * cores),
      "spark.task_skew" -> p.ops.map(_.layer.getOrElse("spark.task_skew", 1.0)).maxOption.getOrElse(0.0),
      "sources.seamf.decode_precision" -> ratio(slices.map(_.layer("truth_files")).sum,
        slices.map(_.layer.getOrElse("sources.seamf.decoded_files", 0.0)).sum),
      "streaming.reported_rows_frac" -> ratio(sums("streaming.reported_rows"),
        sums("streaming.counted_rows")),
      "lake.write_s" -> exportS,
      "lake.bytes_per_input_byte" -> ratio(sums("lake.bytes"), sums("lake.input_bytes")),
      "lake.export_sweeps_per_s" -> (if (exportS > 0) w.exportSweeps / exportS else 0.0))
  }

  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    sys.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("work"))
    val cores = a("cores").toInt
    val w = Workload(a("workload"), Ctx(work, Paths.get(a("bench-dir")), seed, cores))

    val cpuA = Host.cpu()
    val load0 = Host.loadavg()
    val canary0 = Host.canaryMs()
    val busy0 = Host.externalBusy(cpuA, Host.cpu())

    val tf = System.nanoTime()
    w.generate()
    var fixtureS = (System.nanoTime() - tf) / 1e9

    val untimedErrors = mutable.ArrayBuffer.empty[String]
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (0 until SetupReps).foreach { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, work)
      var prepS = 0.0
      if (i == 0) {
        val tp = System.nanoTime()
        w.prepare(spark)
        prepS = (System.nanoTime() - tp) / 1e9
        fixtureS += prepS
      }
      runOp(spark, w, w.warmup, None).error.foreach(untimedErrors += _)
      setups += (System.nanoTime() - t0) / 1e9 - prepS
    }

    val collector = if (trace) Some(new Collector(spark, cores)) else None
    val rng = new SplittableRandom(seed * 31 + 17)
    val passes = mutable.ArrayBuffer.empty[PassRec]
    // one unreported pass first, so that every reported pass runs warm;
    // a full collection before each pass keeps the old generation, and so
    // the peak RSS, from depending on when the collector last ran
    System.gc()
    val warm0 = System.nanoTime()
    w.pass(-1, rng).map(op => runOp(spark, w, op, None)).flatMap(_.error).foreach(untimedErrors += _)
    val warmPassS = (System.nanoTime() - warm0) / 1e9
    val cpuB = Host.cpu()
    val loop0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loop0) / 1e9
    while (passes.isEmpty || (trace && passes.size < 2) || elapsed < seconds) {
      val traced = trace && passes.size % 2 == 1
      System.gc()
      if (traced) collector.foreach(_.register())
      val ops = w.pass(passes.size, rng).map(op => runOp(spark, w, op, collector.filter(_ => traced)))
      if (traced) collector.foreach(_.unregister())
      passes += PassRec(traced, ops)
    }
    val loopS = elapsed
    val busy1 = Host.externalBusy(cpuB, Host.cpu())
    val warmLake = if (trace) w.lakePhase(-1, rng) else Nil
    val lakeLayer = if (warmLake.isEmpty) Map.empty[String, Double] else {
      warmLake.foreach(op => runOp(spark, w, op, None))
      collector.foreach(_.register())
      val ops = w.lakePhase(0, rng).map(op => runOp(spark, w, op, collector))
      collector.foreach(_.unregister())
      untimedErrors ++= ops.flatMap(_.error)
      passLayer(PassRec(traced = true, ops), w, cores).filter(_._1.startsWith("lake."))
    }
    spark.stop()

    val profile = if (trace) Some(Profile.both(work, seed)) else None
    val canary1 = Host.canaryMs()
    val load1 = Host.loadavg()

    // ---- end-to-end figures: untraced passes only
    val timed = passes.filterNot(_.traced)
    val opMs = timed.flatMap(_.ops.map(_.ms)).toSeq
    val (tailMs, tailLabel) = Stats.tail(opMs)
    val wallS = Stats.median(timed.map(_.wallS).toSeq)
    val allOps = passes.flatMap(_.ops)
    val failed = allOps.count(_.error.nonEmpty)
    // the median over operation kinds of each kind's median latency: the
    // median of all samples would fall between kinds of different cost and
    // move with how many of each a run happened to issue
    val kindP50 = timed.flatMap(_.ops).groupBy(_.kind).values
      .map(os => Stats.median(os.map(_.ms).toSeq)).toSeq
    val endToEnd = Map("wall_s" -> wallS, "op_p50_ms" -> Stats.median(kindP50),
      "op_tail_ms" -> tailMs, "peak_rss_mb" -> Host.peakRssMb(),
      "setup_s" -> Stats.median(setups.toSeq))

    // ---- per-layer figures: medians over traced passes
    val tracedLayers = passes.filter(_.traced).map(passLayer(_, w, cores))
    val perLayer: Map[String, Double] = PerLayer.map { case (k, _) =>
      k -> Stats.median(tracedLayers.map(_.getOrElse(k, 0.0)).toSeq)
    }.toMap ++ Map("trace.overhead_ms" -> 1e3 * (Stats.median(
      passes.filter(_.traced).map(_.wallS).toSeq) - wallS)) ++
      lakeLayer ++ profile.map(_.metrics).getOrElse(Map.empty)

    val m = new ObjectMapper()
    val rec = m.createObjectNode()
    rec.put("workload", w.name); rec.put("seed", seed); rec.put("seconds", seconds)
    rec.put("trace", trace)
    val host = rec.putObject("host")
    host.put("nproc", Runtime.getRuntime.availableProcessors()); host.put("cores_used", cores)
    host.put("xmx", a.getOrElse("heap", "")); host.put("max_heap_mb", Runtime.getRuntime.maxMemory / 1048576.0)
    host.put("loadavg_start", load0); host.put("loadavg_end", load1)
    host.put("external_busy_start", busy0); host.put("external_busy_end", busy1)
    host.put("canary_ms_start", canary0); host.put("canary_ms_end", canary1)
    val in = rec.putObject("inputs")
    w.inputs.toSeq.sortBy(_._1).foreach { case (k, v) => in.put(k, v) }
    rec.put("fixture_s", fixtureS)
    setups.foreach(rec.withArray("setup_samples_s").add(_))
    rec.put("warm_pass_s", warmPassS)
    rec.put("measured_s", loopS)
    rec.put("passes", passes.size); rec.put("timed_passes", timed.size)
    rec.put("op_samples", opMs.size); rec.put("op_kinds", kindP50.size)
    rec.put("op_tail_percentile", tailLabel)
    rec.put("failed_ops_frac", failed.toDouble / math.max(1, allOps.size))
    if (w.sweepsPerPass > 0) rec.put("sweeps_per_s", w.sweepsPerPass / wallS)
    if (lakeLayer.nonEmpty) {
      rec.put("lake_export_sweeps_per_s", lakeLayer("lake.export_sweeps_per_s"))
      rec.put("lake_bytes_per_input_byte", lakeLayer("lake.bytes_per_input_byte"))
    }
    val kinds = rec.putObject("ops")
    allOps.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, os) =>
      val o = kinds.putObject(k)
      o.put("n", os.size); o.put("p50_ms", Stats.median(os.map(_.ms).toSeq))
      os.foreach(op => o.withArray("ms").add(op.ms))
      o.put("failed", os.count(_.error.nonEmpty))
    }
    if (trace) {
      val layers = rec.putObject("per_layer")
      PerLayer.foreach { case (k, _) => layers.put(k, perLayer(k)) }
    }
    val errors = (untimedErrors ++ allOps.flatMap(_.error) ++ profile.flatMap(_.error)).take(8)
    errors.foreach(rec.withArray("errors").add(_))
    println(m.writeValueAsString(m.createObjectNode().set("record", rec)))

    val res = m.createObjectNode()
    res.put("correct", errors.isEmpty)
    res.put("attempted", allOps.size)
    res.put("failed", failed)
    val metrics = res.putObject("metrics")
    (if (trace) PerLayer.map { case (k, u) => (k, u, perLayer(k)) }
     else EndToEnd.map { case (k, u) => (k, u, endToEnd(k)) }).foreach { case (k, u, v) =>
      val o = metrics.putObject(k); o.put("value", v); o.put("unit", u)
    }
    println(m.writeValueAsString(res))
  }
}
