package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** One timed operation. It throws when it fails or its output is wrong. */
final case class Op(name: String, run: () => Unit)

/** A workload: set-up (session, then warm-up), a fixed list of ops, and
  * the figures the run reports besides its timings.
  */
trait Workload {
  def session(): SparkSession
  def warmUp(): Unit
  def ops: Seq[Op]
  /** Called between ops, outside their timing. */
  def between(prev: Op, next: Op): Unit = ()
  def finish(): Map[String, Double] = Map.empty
}

/** Runs one workload in this JVM and writes its raw figures as JSON.
  *
  * Usage: `perfbench.Main <workload> <inputsDir> <workDir> <trace 0|1>`.
  * The caller (`perfbench/run.py`) generates the inputs, fixes the
  * environment, and checks the outputs left in `<workDir>/out`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(name, inputs, work, traceArg) = args
    val in = Paths.get(inputs)
    val out = Paths.get(work, "out")
    Files.createDirectories(out)
    val tracer = if (traceArg == "1") Some(new Tracer) else None
    val t = new Timers(tracer)
    val workload: Workload = name match {
      case "stream-gaming" => new StreamGaming(in, out, t)
      case "pipelines" => new Pipelines(in, out, t)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val spark = workload.session()
    tracer.foreach(_.install(spark))
    workload.warmUp()
    tracer.foreach { tr => tr.drain(spark); tr.reset() }
    val ops = workload.ops
    val lat = new Array[Long](ops.size)
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    val cpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gc0 = Tracer.gcMs
    val jit0 = Tracer.jitMs
    val setupFigures = t.layerFigures
    val firstOpMs = System.currentTimeMillis()
    val cpu0 = cpu.getProcessCpuTime
    val w0 = System.nanoTime()
    ops.indices.foreach { i =>
      if (i > 0) workload.between(ops(i - 1), ops(i))
      val op = ops(i)
      val a = System.nanoTime()
      try t.span(op.name, "bench", 0)(op.run())
      catch {
        case e: Throwable =>
          failures += s"${op.name}: ${e.toString.take(300)}"
          System.err.println(s"[perfbench] op ${op.name} failed: $e")
      }
      lat(i) = System.nanoTime() - a
      tracer.foreach(_.samplePins(spark))
    }
    val workS = (System.nanoTime() - w0) / 1e9
    val workCpuS = (cpu.getProcessCpuTime - cpu0) / 1e9
    val gcMs = Tracer.gcMs - gc0
    val jitMs = Tracer.jitMs - jit0
    val extra = workload.finish()
    val layers = tracer.map { tr =>
      tr.drain(spark)
      val opFigures = t.layerFigures.map { case (k, v) =>
        k -> (if (k == "core.session_ms") v else v - setupFigures.getOrElse(k, 0.0))
      }
      tr.report(Paths.get(work, "spans.jsonl")) ++ opFigures ++ IoCount(out) ++ Map(
        "jvm.gc_ms" -> gcMs.toDouble, "jvm.codegen_ms" -> jitMs.toDouble, "trace.work_s" -> workS)
    }.getOrElse(Map.empty)
    val json = Json.obj(Seq(
      "first_op_ms" -> firstOpMs.toString,
      "work_s" -> Json.num(workS),
      "work_cpu_s" -> Json.num(workCpuS),
      "op_ms" -> lat.map(ns => Json.num(ns / 1e6)).mkString("[", ",", "]"),
      "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
      "extra" -> Json.obj(extra.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
    Files.writeString(Paths.get(work, "result.json"), json, UTF_8)
    spark.stop()
  }
}

/** Timed calls into the engine. Per-layer times are kept in every mode
  * (two clock reads a call); spans only when tracing.
  */
final class Timers(val tracer: Option[Tracer]) {
  private val ms = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)

  def span[T](name: String, layer: String, rank: Int)(body: => T): T =
    tracer.fold(body)(_.span(name, layer, rank)(body))

  /** Times `body`, adds its ms to layer metric `metric`, records a span. */
  def timed[T](metric: String, layer: String, rank: Int = 1)(body: => T): T = {
    val a = System.nanoTime()
    try span(metric, layer, rank)(body)
    finally ms(metric) += (System.nanoTime() - a) / 1e6
  }

  def layerFigures: Map[String, Double] = ms.toMap
}

/** Files and bytes the sinks wrote under `out`, not counting streaming
  * checkpoints, sink metadata, checksum files and success markers.
  */
object IoCount {
  def apply(out: Path): Map[String, Double] = {
    def skipDir(p: Path) = {
      val n = p.getFileName.toString
      n.startsWith("_cp") || n == "_spark_metadata"
    }
    var files = 0L
    var bytes = 0L
    def walk(p: Path): Unit =
      if (Files.isDirectory(p)) {
        if (!skipDir(p)) Files.list(p).iterator.asScala.toVector.foreach(walk)
      } else {
        val n = p.getFileName.toString
        if (!n.startsWith(".") && n != "_SUCCESS") { files += 1; bytes += Files.size(p) }
      }
    walk(out)
    Map("io.files_written" -> files.toDouble, "io.bytes_written" -> bytes.toDouble)
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Game events published one file per step to the input directories of
  * the LeaderBoard (team windows and user totals), GameStats and
  * StatefulTeamScore streaming queries, composed as their CLI mains
  * compose them, each main reading its own directory. One op publishes
  * the next file to each main in turn and waits until that main's queries
  * have processed it, so the mains do not compete for the cores.
  */
final class StreamGaming(in: Path, out: Path, t: Timers) extends Workload {
  private val staged = Files.list(in.resolve("files")).iterator.asScala.toVector.sortBy(_.toString)
  private val warmFiles = Files.readString(in.resolve("warm_files")).trim.toInt
  private var spark: SparkSession = _
  private var mains: Seq[(Path, Seq[StreamingQuery])] = Nil
  private val seen = scala.collection.mutable.Map[(String, Long), StreamingQueryProgress]()

  private def step(i: Int): Unit = {
    val f = staged(i)
    mains.foreach { case (dir, queries) =>
      t.timed("io.publish_ms", "io") {
        val tmp = dir.resolve("." + f.getFileName) // hidden: the source skips it
        Files.copy(f, tmp)
        Files.move(tmp, dir.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
      }
      t.timed("streaming.wait_ms", "streaming")(queries.foreach(_.processAllAvailable()))
    }
  }

  private def poll(): Unit = mains.flatMap(_._2).foreach { q =>
    q.recentProgress.foreach(p => seen((q.id.toString, p.batchId)) = p)
  }

  def session(): SparkSession = {
    spark = t.timed("core.session_ms", "core")(
      graft.pipelines.Opts.session("perfbench-stream-gaming"))
    spark
  }

  /** Starts the queries and publishes the warm-up files. */
  def warmUp(): Unit = {
    implicit val s: SparkSession = spark
    import s.implicits._
    val o = out.toString
    def events(main: String): (Path, DataFrame) = {
      val dir = Files.createDirectories(out.resolveSibling(s"src_$main"))
      dir -> graft.pipelines.ReferencePipelines
        .parseGameEvents(spark.readStream.text(dir.toString).as[String])
        .select($"user".as("user_id"), $"team", $"score".as("value"), $"ts")
    }
    val (lbDir, lb) = events("leaderboard")
    val teams = graft.streaming.LeaderBoard.teamWindowTotals(lb, "60 minutes", "120 minutes")
      .writeStream.outputMode("append").format("csv")
      .option("path", o + "/teams")
      .option("checkpointLocation", o + "/_cp_teams")
      .start()
    val users = graft.streaming.LeaderBoard.userRunningTotals(lb)
      .writeStream.outputMode("complete")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").csv(o + "/users")
      }
      .option("checkpointLocation", o + "/_cp_users")
      .start()
    val (gsDir, gs) = events("gamestats")
    val stats = gs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val pinned = batch.persist()
        try {
          graft.streaming.StreamOps.spamFilteredTeamScores(pinned, "ts", "60 minutes", 2.5)
            .write.mode("append").csv(o + "/stats_teams")
          graft.streaming.StreamOps.sessionDurationMeans(pinned, "ts",
              "user_id", "5 minutes", "30 minutes", "0 seconds")
            .write.mode("append").csv(o + "/stats_sessions")
        } finally { pinned.unpersist(); () }
      }
      .option("checkpointLocation", o + "/_cp_stats")
      .start()
    val (stDir, st) = events("stateful")
    val crossings = graft.streaming.StreamOps
      .thresholdCrossings(st.select($"team".as("key"), $"value".cast("long").as("score"))
        .as[graft.streaming.StreamOps.ScoreEvent], 5000L)
      .toDF()
      .writeStream.outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").csv(o + "/crossings")
      }
      .option("checkpointLocation", o + "/_cp_crossings")
      .start()
    mains = Seq(lbDir -> Seq(teams, users), gsDir -> Seq(stats), stDir -> Seq(crossings))
    (0 until warmFiles).foreach { i => step(i); poll() }
  }

  def ops: Seq[Op] = (warmFiles until staged.size).map(i => Op(f"step$i%04d", () => step(i)))

  override def between(prev: Op, next: Op): Unit = poll()

  override def finish(): Map[String, Double] = {
    poll()
    val queries = mains.flatMap(_._2)
    queries.foreach(_.stop())
    queries.foreach(_.exception.foreach(e => throw e))
    Map("late_dropped_rows" -> seen.values.flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum.toDouble)
  }
}

/** The CLI mains, called through `main(args)` in this JVM under the
  * session `Opts.session` builds, each writing to a fresh directory.
  */
final class Pipelines(in: Path, out: Path, t: Timers) extends Workload {
  private val fixture = in.resolve("sf0.01").toString

  def session(): SparkSession =
    t.timed("core.session_ms", "core")(graft.pipelines.Opts.session("perfbench-pipelines"))

  /** A small word count: the first Spark job of a JVM pays one-off costs. */
  def warmUp(): Unit =
    graft.pipelines.WordCountMain.main(Array(
      s"--inputFile=${in.resolve("warm.txt")}", s"--output=${out.resolveSibling("warm")}"))

  private def op(name: String, input: String, m: Array[String] => Unit): Op =
    Op(name, () => t.timed(s"pipelines.${name}_ms", "pipelines")(
      m(Array(input, s"--output=${out.resolve(name)}"))))

  def ops: Seq[Op] = {
    import graft.pipelines._
    Seq(
      op("wordcount", s"--inputFile=${in.resolve("corpus.txt")}", WordCountMain.main),
      op("tfidf", s"--input=${in.resolve("tfidf")}", TfIdfMain.main),
      op("user_score", s"--input=${in.resolve("game.csv")}", UserScoreMain.main),
      op("hourly_team_score", s"--input=${in.resolve("game.csv")}", HourlyTeamScoreMain.main),
      op("curate", s"--input=$fixture", CuratePipelineMain.main),
      op("index", s"--input=$fixture", IndexPipelineMain.main))
  }
}
