package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are epoch milliseconds,
  * the clock Spark's listener events carry. `rank` orders the boundaries
  * (op 0, call 1, microbatch 2, Catalyst phase 3, job 4, stage 5); a
  * span's parent is the narrowest lower-ranked span that contains it.
  */
final case class Span(name: String, layer: String, rank: Int,
                      start: Long, end: Long)

/** Spans and counters of a traced run, kept in memory until the run ends.
  *
  * Everything is observed from outside the engine: timed calls into its
  * entry points, plus Spark's public listener APIs (job call sites and
  * task metrics, `qe.tracker.phases`, streaming progress) and the JVM's
  * MXBeans.
  */
final class Tracer {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[String, java.lang.Double]()

  def add(name: String, v: Double): Unit =
    counters.merge(name, v, (a, b) => a + b)
  def max(name: String, v: Double): Unit =
    counters.merge(name, v, (a, b) => math.max(a, b))
  def record(s: Span): Unit = spans.add(s)

  def span[T](name: String, layer: String, rank: Int)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body
    finally spans.add(Span(name, layer, rank, t0, System.currentTimeMillis()))
  }

  /** Registers the listeners; before any query starts, so that streaming
    * queries' sessions inherit the query execution listener.
    */
  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(phases)
    spark.streams.addListener(progress)
  }

  /** Drops the spans and counters of the set-up. Every counter the
    * listeners and `samplePins` feed restarts at 0, so a counter no event
    * fed is reported as a measured 0.
    */
  def reset(): Unit = {
    spans.clear()
    counters.clear()
    Tracer.Counters.foreach(counters.put(_, 0.0))
  }

  /** Samples the resident cached RDDs (the engine's pins). */
  def samplePins(spark: SparkSession): Unit = {
    val infos = spark.sparkContext.getRDDStorageInfo
    max("queries.pin_bytes_max", infos.map(i => i.memSize + i.diskSize).sum.toDouble)
    max("queries.pin_rdds", infos.length.toDouble)
  }

  private val jobStarts = new ConcurrentHashMap[Int, (Long, String)]()

  private object jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val layer = if (site.contains("Tables.scala")) "core" else "exec"
      jobStarts.put(e.jobId, (e.time, layer))
      add("exec.jobs", 1)
      if (layer == "core") add("core.open_jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (t0, layer) =>
        if (layer == "core") add("core.open_ms", (e.time - t0).toDouble)
        record(Span("job", layer, 4, t0, e.time))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      add("exec.stages", 1)
      for (s <- i.submissionTime; c <- i.completionTime)
        record(Span("stage", "exec", 5, s, c))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("exec.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
        add("exec.task_run_ms", m.executorRunTime.toDouble)
        add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }

  private object phases extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      add("plan.executions", 1)
      qe.tracker.phases.foreach { case (phase, p) =>
        add(s"plan.${phase}_ms", p.durationMs.toDouble)
        Tracer.this.record(Span(phase, "plan", 3, p.startTimeMs, p.endTimeMs))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val lastState = new ConcurrentHashMap[String, (Long, Long)]()

  private object progress extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      add("streaming.batches", 1)
      add("streaming.input_rows", p.numInputRows.toDouble)
      Seq("getBatch" -> "get_batch", "queryPlanning" -> "query_planning",
          "addBatch" -> "add_batch", "walCommit" -> "wal_commit",
          "commitOffsets" -> "commit_offsets").foreach { case (k, n) =>
        add(s"streaming.${n}_ms", d.getOrElse(k, 0L).toDouble)
      }
      val ops = p.stateOperators
      add("streaming.state_commit_ms", ops.map(_.commitTimeMs).sum.toDouble)
      add("streaming.late_dropped_rows", ops.map(_.numRowsDroppedByWatermark).sum.toDouble)
      lastState.put(p.id.toString,
        (ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum))
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      record(Span("microbatch", "streaming", 2, start,
        start + d.getOrElse("triggerExecution", 0L)))
    }
  }

  /** Waits for the listener bus to deliver every queued event. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .getOrElse(throw new IllegalStateException("listener bus has no waitUntilEmpty()"))
      .invoke(bus)
  }

  /** Per-layer metrics of the run: counters, end-of-run state size, and
    * each layer's self time (span time not covered by its child spans).
    * Writes every span, with its parent and op, to `spansFile`.
    */
  def report(spansFile: java.nio.file.Path): Map[String, Double] = {
    val all = spans.asScala.toVector.sortBy(s => (s.start, -s.end, s.rank))
    val parent = all.indices.map { i =>
      val s = all(i)
      var best = -1
      var j = 0
      while (j < all.length && all(j).start <= s.start) {
        val p = all(j)
        if (j != i && p.rank < s.rank && p.end >= s.end && (best < 0 ||
            p.end - p.start < all(best).end - all(best).start ||
            (p.end - p.start == all(best).end - all(best).start && p.rank > all(best).rank)))
          best = j
        j += 1
      }
      best
    }
    val children = parent.zipWithIndex.filter(_._1 >= 0).groupBy(_._1)
      .map { case (p, cs) => p -> cs.map(_._2) }
    val selfMs = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    all.indices.foreach { i =>
      val s = all(i)
      val covered = Tracer.unionLength(children.getOrElse(i, Nil)
        .map(c => (all(c).start max s.start, all(c).end min s.end)))
      selfMs(s.layer) += (s.end - s.start - covered).toDouble
    }
    def opOf(i: Int): Int = if (parent(i) < 0) i else opOf(parent(i))
    val w = java.nio.file.Files.newBufferedWriter(spansFile)
    try all.indices.foreach { i =>
      val s = all(i)
      w.write(s"""{"id":$i,"parent":${parent(i)},"op":${opOf(i)},"name":"${s.name}",""" +
        s""""layer":"${s.layer}","start_ms":${s.start},"end_ms":${s.end}}""" + "\n")
    } finally w.close()
    val state = lastState.values.asScala
    val jobMs = Tracer.unionLength(all.filter(_.name == "job").map(s => (s.start, s.end)))
    counters.asScala.map { case (k, v) => k -> v.doubleValue }.toMap ++
      Tracer.Layers.map(l => s"$l.self_ms" -> selfMs(l)) ++ Map(
        "exec.ms" -> jobMs.toDouble,
        "streaming.state_rows" -> state.map(_._1).sum.toDouble,
        "streaming.state_bytes" -> state.map(_._2).sum.toDouble)
  }
}

object Tracer {
  val Counters: Seq[String] = Seq(
    "core.open_jobs", "core.open_ms", "queries.pin_bytes_max", "queries.pin_rdds",
    "plan.executions", "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_cpu_ms", "exec.task_run_ms",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
    "streaming.batches", "streaming.input_rows", "streaming.get_batch_ms",
    "streaming.query_planning_ms", "streaming.add_batch_ms", "streaming.wal_commit_ms",
    "streaming.commit_offsets_ms", "streaming.state_commit_ms",
    "streaming.late_dropped_rows")
  val Layers: Seq[String] =
    Seq("bench", "core", "plan", "exec", "streaming", "io", "pipelines")

  /** Total length covered by a set of intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = curE max e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** GC and JIT compilation time of the JVM so far, in ms. */
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum
  def jitMs: Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
  }
}
