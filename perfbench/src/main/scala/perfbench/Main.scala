package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Minimal JSON writing for the result record. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** One timed op's measurements. */
final case class Sample(label: String, secs: Double, ok: Boolean, traced: Boolean,
    rows: Long, delta: Counters, gapMs: Double)

/** Runs one workload in this JVM: set-up (inputs, reference checks,
  * warm-up), then whole rounds of ops for the requested seconds, and writes
  * one result record. With tracing on, odd rounds are traced and even
  * rounds are not, so the tracing overhead is measured in the same run. */
object Main {
  val perLayer: Seq[String] = Seq(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.sched_gap_ms",
    "spark.task_ms", "spark.task_cpu_ms", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes",
    "queries.build_ms", "queries.eager_jobs", "queries.plan_ms", "queries.exec_ms",
    "sources.input_bytes", "sources.output_bytes",
    "engine.wire_ms", "engine.sink_ms", "engine.log_bytes",
    "modules.decontaminate_ms", "modules.scrub_ms", "modules.dedupe_ms",
    "modules.neardedupe_ms", "modules.score_ms",
    "dedup.pairs_ms", "dedup.pairs_out", "dedup.pair_yield",
    "components.cc_ms", "components.cc_jobs", "components.lpa_ms", "components.lpa_jobs",
    "components.pagerank_ms", "components.pagerank_jobs", "components.bfs_ms",
    "components.bfs_jobs", "components.keepers_ms",
    "checkpoint.jobs", "checkpoint.ms", "checkpoint.bytes",
    "streaming.trigger_ms", "streaming.add_batch_ms", "streaming.planning_ms",
    "streaming.commit_ms", "streaming.latest_offset_ms", "streaming.batches",
    "streaming.ingest_ms", "jvm.gc_ms", "self.uncovered_ms", "self.queries_ms",
    "self.engine_ms", "trace.overhead_pct")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val root = opt("root")
    val bootS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    // host speed, stamped; measured before any Spark work and outside set-up
    val canaryMs = graft.Bench.hostCanaryMs()
    val setupT0 = System.nanoTime()
    val spark = graft.Bench.buildSession(opt("cpus"))
    val sc = spark.sparkContext
    val meter = new Meter
    sc.addSparkListener(meter)
    spark.streams.addListener(meter.streams)
    val tracer = new Tracer(meter, sc)
    val ctx = new Ctx(spark, tracer)
    ctx.phase("session up")

    val w: Workload = workload match {
      case "query_mix" => new QueryMix(ctx, s"$root/sf", s"$root/oracle",
        new String(Files.readAllBytes(Paths.get(opt("queries"))), "UTF-8")
          .split("\\s+").filter(_.nonEmpty).toSeq, seed)
      case "corpus_batch" => new CorpusBatch(ctx, root)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val samples = ArrayBuffer[Sample]()
    val probeDelta = ArrayBuffer[Counters]()  // at most one: probes run once
    // each op leaves no storage behind: its cached and checkpointed blocks
    // are dropped and its garbage collected before the next op
    graft.Bench.drainStorage(spark)
    def runOp(op: Op, traced: Boolean): Sample = {
      op.prepare()
      tracer.on = traced
      tracer.op = samples.size
      val c0 = meter.snapshot(sc)
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val ok = try tracer.span("op")(op.run()) catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] op ${op.label} failed: $e")
          false
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val w1 = System.currentTimeMillis()
      tracer.on = false
      val delta = meter.snapshot(sc) - c0
      val gap = meter.schedGapMs(w0, w1)
      graft.Bench.drainStorage(spark)
      System.gc()
      Sample(op.label, secs, ok, traced, op.rows, delta, gap)
    }

    // warm-up after the (cold) set-up pass: one whole round, so every run
    // starts measuring after the same work. With the code cache large
    // enough and low compile thresholds (see run.py), the first measured
    // round is then within about 10% of the later ones. The record keeps
    // the compile time that overlaps the measured rounds.
    val jit = ManagementFactory.getCompilationMXBean
    val warmT0 = System.nanoTime()
    locally {
      val jit0 = jit.getTotalCompilationTime
      val rs = w.round().map(runOp(_, traced = false))
      ctx.check(rs.forall(_.ok), "warm-up round had a failed op: " +
        rs.filterNot(_.ok).map(_.label).mkString(","))
      ctx.phase(f"warm-up round: ${rs.map(_.secs).sum}%.2f s of ops, " +
        s"${jit.getTotalCompilationTime - jit0} ms compiling")
    }
    val warmS = (System.nanoTime() - warmT0) / 1e9
    val setupS = bootS + (System.nanoTime() - setupT0) / 1e9

    // measurement: whole rounds, stopping at the round boundary nearest to
    // `seconds`; a traced run alternates untraced and traced rounds (at
    // least one of each), then probes once, after the last round
    val measT0 = System.nanoTime()
    val measJit0 = jit.getTotalCompilationTime
    var r = 0
    var roundS = 0.0
    val heapMb = ArrayBuffer[Double]()
    val plainRounds = ArrayBuffer[Seq[Sample]]()
    def elapsed = (System.nanoTime() - measT0) / 1e9
    while (r < (if (trace) 2 else 1) || elapsed + roundS / 2 < seconds) {
      val roundT0 = elapsed
      val traced = trace && r % 2 == 1
      val rs = w.round().map(runOp(_, traced))
      samples ++= rs
      if (!traced) plainRounds += rs
      roundS = elapsed - roundT0
      heapMb += Meter.liveHeapMb()
      r += 1
    }
    val measS = (System.nanoTime() - measT0) / 1e9
    val measJitMs = jit.getTotalCompilationTime - measJit0
    if (trace) {
      w.probeSetup()
      tracer.on = true; tracer.op = -1
      val c0 = meter.snapshot(sc)
      try w.probe() catch { case NonFatal(e) => ctx.check(false, s"probe failed: $e") }
      probeDelta += meter.snapshot(sc) - c0
      tracer.on = false
    }
    graft.Bench.drainStorage(spark)

    val plain = samples.filterNot(_.traced)
    val traced = samples.filter(_.traced)
    val times = plain.map(_.secs).sorted
    val n = times.size
    // p90 needs ten samples beyond it; with fewer, the highest such
    // percentile, but never below the median
    val q = math.max(0.5, math.min(0.9, 1.0 - 10.0 / n))
    def pct(p: Double): Double = {
      val x = p * (n - 1)
      val (lo, hi) = (math.floor(x).toInt, math.ceil(x).toInt)
      times(lo) + (times(hi) - times(lo)) * (x - lo)
    }
    // throughput per untraced round (per second of op time), median over
    // rounds: a slow spell of the host that covers a few rounds moves it
    // as little as it moves the median op
    def perRound(f: Sample => Double): Double = {
      val v = plainRounds.map(rs => rs.map(f).sum / rs.map(_.secs).sum).sorted
      val m = v.size / 2
      if (v.size % 2 == 1) v(m) else (v(m - 1) + v(m)) / 2
    }
    val e2e = Seq(
      ("ops_per_s", perRound(_ => 1.0), "1/s", plainRounds.size),
      ("rows_per_s", perRound(_.rows.toDouble), "1/s", plainRounds.size),
      ("op_p50_s", pct(0.5), "s", n),
      ("op_p90_s", pct(q), "s", n),
      ("live_heap_mb", heapMb.max, "MB", heapMb.size),
      ("setup_s", setupS, "s", 1))

    val layers: Map[String, Double] = if (traced.isEmpty) Map.empty else {
      val nt = traced.size.toDouble
      // op-level values are per traced op, probe values per probe run;
      // streaming counters of a workload whose ops do not stream come from
      // its ingest probe, every other counter is the ops' own
      val np = probeDelta.size.max(1).toDouble
      val opsStream = traced.exists(_.delta("streaming.trigger_ms") > 0)
      // keys of both: a counter the probes move first exists only in theirs
      val keys = (traced.flatMap(_.delta.values.keys) ++ probeDelta.flatMap(_.values.keys)).distinct
      val counters = keys.map { k =>
        k -> (if (!opsStream && k.startsWith("streaming.")) probeDelta.map(_(k)).sum / np
              else traced.map(_.delta(k)).sum / nt) }.toMap
      val spans = tracer.spans.filter(_.name != "op")
      val spanMs = spans.groupMapReduce(_.name + "_ms")(s => s.ms / (if (s.op >= 0) nt else np))(_ + _)
      val spanJobs = spans.filter(_.name.startsWith("components."))
        .groupBy(_.name + "_jobs").map { case (k, v) => k -> v.map(_.jobs).sum / v.size }
      val self = tracer.selfMsByLayer(_.op >= 0).map {
        case ("op", v) => "self.uncovered_ms" -> v / nt
        case (l, v) => s"self.${l}_ms" -> v / nt
      }
      val eager = spans.filter(_.name == "queries.build")
      val sink = counters.getOrElse("engine.sink_ms", 0.0) + spanMs.getOrElse("engine.sink_ms", 0.0)
      val wire = spanMs.getOrElse("engine.wire_ms",
        (counters.getOrElse("streaming.add_batch_ms", 0.0) - sink).max(0.0))
      counters ++ spanMs ++ spanJobs ++ self ++ w.layerValues ++ Map(
        "spark.sched_gap_ms" -> traced.map(_.gapMs).sum / nt,
        "queries.eager_jobs" -> (if (eager.isEmpty) 0.0 else eager.map(_.jobs).sum / eager.size),
        "engine.sink_ms" -> sink, "engine.wire_ms" -> wire,
        "trace.overhead_pct" ->
          (100.0 * (traced.map(_.secs).sum / nt) / (plain.map(_.secs).sum / plain.size) - 100.0))
    }
    val layerOut = if (trace) perLayer.map(k => k -> layers.getOrElse(k, 0.0)) else Nil
    val selfOut = layers.filter(_._1.startsWith("self.")).toSeq.sortBy(_._1)

    Files.createDirectories(Paths.get(opt("spans")).getParent)
    if (trace) tracer.writeJsonl(Paths.get(opt("spans")))
    val failed = samples.count(!_.ok)
    val stamp = Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "input" -> Json.str(w.identity), "cpus" -> Json.str(opt("cpus")),
      "heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark" -> Json.str(spark.version),
      "jdk" -> Json.str(System.getProperty("java.version")),
      "commit" -> Json.str(opt("commit")), "host_canary_ms" -> Json.num(canaryMs),
      "trace" -> (if (trace) "1" else "0"), "seconds" -> Json.num(seconds))
    val record = Json.obj(Seq(
      "correct" -> (ctx.problems.isEmpty && failed == 0).toString,
      "attempted" -> samples.size.toString, "failed" -> failed.toString,
      "problems" -> ctx.problems.map(Json.str).mkString("[", ", ", "]"),
      "end_to_end" -> Json.obj(e2e.map { case (k, v, u, c) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u), "samples" -> c.toString)) }),
      "p90_quantile" -> Json.num(q),
      "op_s" -> samples.map(x => Json.num(x.secs)).mkString("[", ", ", "]"),
      "op_medians_s" -> Json.obj(plain.groupBy(_.label).toSeq.sortBy(_._1).map { case (l, v) =>
        val t = v.map(_.secs).sorted
        l -> Json.num(t(t.size / 2)) }),
      "per_layer" -> Json.obj(layerOut.map { case (k, v) => k -> Json.num(v) }),
      "self_ms" -> Json.obj(selfOut.map { case (k, v) => k -> Json.num(v) }),
      "phases_s" -> Json.obj(Seq("jvm_boot" -> Json.num(bootS), "warm" -> Json.num(warmS),
        "measure" -> Json.num(measS), "measure_jit_ms" -> measJitMs.toString,
        "rounds" -> r.toString)),
      "stamp" -> Json.obj(stamp)))
    Files.write(Paths.get(opt("out")), record.getBytes("UTF-8"))
    spark.stop()
  }
}
