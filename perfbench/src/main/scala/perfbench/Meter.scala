package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Counters one op (or one span) moved. Read as the difference of two
  * [[Meter.snapshot]]s taken after the listener bus has drained. */
final case class Counters(values: Map[String, Double]) {
  def -(o: Counters): Counters =
    Counters(values.map { case (k, v) => k -> (v - o.values.getOrElse(k, 0.0)) })
  def apply(k: String): Double = values.getOrElse(k, 0.0)
}

/** The benchmark's only listeners: one SparkListener (jobs, stages, tasks,
  * task time and bytes, checkpoint jobs and blocks, write executions) and
  * one StreamingQueryListener (per-trigger durations). Everything is a
  * running total; callers diff snapshots. */
final class Meter extends SparkListener {
  private val totals = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val ckptJobStart = mutable.Map[Int, Long]()
  private val writeStart = mutable.Map[Long, Long]()
  private val ckptExecs = mutable.Set[Long]()
  private def isCheckpoint(site: String) =
    site.toLowerCase(java.util.Locale.ROOT).contains("checkpoint")
  // task [launch, finish] intervals in epoch ms, for the scheduling gap
  private val taskIntervals = mutable.ArrayBuffer[(Long, Long)]()

  private def add(k: String, v: Double): Unit = totals(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("spark.jobs", 1)
    // a checkpoint job: its call site, or the SQL execution it runs in, is
    // a checkpoint call
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val site = e.stageInfos.flatMap(s => Seq(s.name, s.details)).mkString(" ")
    if (exec.exists(id => ckptExecs(id.toLong)) || isCheckpoint(site)) {
      add("checkpoint.jobs", 1)
      ckptJobStart(e.jobId) = e.time
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ckptJobStart.remove(e.jobId).foreach(t0 => add("checkpoint.ms", e.time - t0))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { add("spark.stages", 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("spark.tasks", 1)
    val info = e.taskInfo
    if (info != null) taskIntervals += ((info.launchTime, info.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      add("spark.task_ms", m.executorRunTime)
      add("spark.task_cpu_ms", m.executorCpuTime / 1e6)
      add("spark.shuffle_read_bytes",
        m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead)
      add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("sources.input_bytes", m.inputMetrics.bytesRead)
      add("sources.output_bytes", m.outputMetrics.bytesWritten)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      add("checkpoint.bytes", b.memSize + b.diskSize)
  }

  // sink writes: SQL executions whose plan is a file write command
  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        if (Option(s.physicalPlanDescription).exists(_.contains("InsertIntoHadoopFsRelationCommand")))
          writeStart(s.executionId) = s.time
        if (isCheckpoint(s"${s.description} ${s.details}")) ckptExecs += s.executionId
      case s: SparkListenerSQLExecutionEnd =>
        writeStart.remove(s.executionId).foreach(t0 => add("engine.sink_ms", s.time - t0))
        ckptExecs -= s.executionId
      case _ =>
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Meter.this.synchronized {
        val d = e.progress.durationMs.asScala
        def ms(k: String): Double = d.get(k).map(_.doubleValue).getOrElse(0.0)
        if (e.progress.numInputRows > 0) add("streaming.batches", 1)
        add("streaming.trigger_ms", ms("triggerExecution"))
        add("streaming.add_batch_ms", ms("addBatch"))
        add("streaming.planning_ms", ms("queryPlanning"))
        add("streaming.commit_ms", ms("walCommit") + ms("commitOffsets"))
        add("streaming.latest_offset_ms", ms("latestOffset") + ms("getBatch"))
      }
  }

  def snapshot(sc: SparkContext): Counters = {
    org.apache.spark.BenchAccess.drainListenerBus(sc)
    synchronized(Counters(totals.toMap + ("jvm.gc_ms" -> Meter.gcMs)))
  }

  /** Wall time in [t0, t1] (epoch ms) during which no task ran; clears the
    * recorded intervals. */
  def schedGapMs(t0: Long, t1: Long): Double = synchronized {
    val iv = taskIntervals.map { case (a, b) => (a.max(t0), b.min(t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    taskIntervals.clear()
    var covered = 0L
    var end = t0
    iv.foreach { case (a, b) =>
      if (b > end) { covered += b - a.max(end); end = b }
    }
    (t1 - t0 - covered).toDouble.max(0.0)
  }
}

object Meter {
  def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Heap in use after full GCs, in MB. A GC lets the ContextCleaner
    * release what the collected objects held (an op's broadcast relations),
    * which the next GC collects, so collect until the reading settles. */
  def liveHeapMb(): Double = {
    def used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    System.gc()
    var last = used
    var stable = 0
    var i = 0
    while (stable < 2 && i < 6) {
      Thread.sleep(100)
      System.gc()
      stable = if (last - used < 1.0) stable + 1 else 0
      last = used
      i += 1
    }
    last
  }
}

/** One timed call into a layer. `parent` is the index of the enclosing span
  * (-1 for an op's root), `op` the op it belongs to (-1 for probes). */
final case class Span(name: String, startNs: Long, endNs: Long, parent: Int,
    op: Int, jobs: Double) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Off by default: then [[span]] is a plain call. */
final class Tracer(meter: Meter, sc: SparkContext) {
  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  var on = false
  var op = -1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val idx = spans.size
      val parent = stack.headOption.getOrElse(-1)
      val jobs0 = meter.snapshot(sc)("spark.jobs")
      spans += Span(name, System.nanoTime(), 0L, parent, op, 0)
      stack.push(idx)
      try body
      finally {
        stack.pop()
        val jobs = meter.snapshot(sc)("spark.jobs") - jobs0
        spans(idx) = spans(idx).copy(endNs = System.nanoTime(), jobs = jobs)
      }
    }

  /** Self time per layer (name up to the first '.'), summed over spans. */
  def selfMsByLayer(filter: Span => Boolean): Map[String, Double] = {
    val childMs = mutable.Map[Int, Double]().withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) childMs(s.parent) += s.ms)
    spans.zipWithIndex.filter(x => filter(x._1)).groupMapReduce(
      x => x._1.name.takeWhile(_ != '.'))(x => x._1.ms - childMs(x._2))(_ + _)
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s =>
      f"""{"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        f""""parent":${s.parent},"op":${s.op},"jobs":${s.jobs.toLong}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}
