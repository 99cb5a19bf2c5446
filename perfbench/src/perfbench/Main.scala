package perfbench

import java.nio.file.{Path, Paths}

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** What one run needs: its settings, arguments, a private run directory
  * (store root, Spark dirs, lakes and mirrors) and the span recorder.
  */
final case class Ctx(settings: JsonNode, home: Path, workload: String, seed: Long,
    seconds: Double, trace: Boolean, root: Path, record: Boolean, tracer: Tracer) {
  def cores: Int = settings.get("cores").asInt
  def sinceJvmStart: Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}

/** A workload's result. `endToEnd` carries the end-to-end metrics (one
  * is missing when no op passed to measure it); `perLayer` the per-layer
  * metrics of a traced run (a layer the workload never calls reads 0).
  */
final case class Outcome(attempted: Int, failed: Int, endToEnd: Map[String, Double],
    perLayer: Map[String, Double], report: Seq[(String, String)])

/** Counts ops attempted and failed. A failed op is logged and kept out of
  * the latency samples; nothing is retried or swallowed.
  */
final class Ops {
  var attempted = 0
  var failed = 0
  def attempt[T](what: String)(body: => (T, Seq[String])): Option[T] = {
    attempted += 1
    val (r, errors) =
      try { val (v, e) = body; (Some(v), e) }
      catch { case NonFatal(e) => (None, Seq(s"threw $e")) }
    if (errors.nonEmpty) {
      failed += 1
      System.err.println(s"[perfbench] $what FAILED: ${errors.take(5).mkString("; ")}")
      None
    } else r
  }
}

object Session {
  /** A local session with `cores` threads, its scratch dirs in the run
    * directory, and the workload's settings from `settings.json`
    * ("cores" and "sizing" resolve to the core count and to
    * `graft.Sizing.shufflePartitions` over the input dir).
    */
  def start(ctx: Ctx, conf: JsonNode, sfDir: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[${ctx.cores}]")
      .config("spark.local.dir", ctx.root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", ctx.root.resolve("warehouse").toString)
    conf.fieldNames.forEachRemaining { k =>
      val v = conf.get(k).asText match {
        case "cores" => ctx.cores.toString
        case "sizing" => graft.Sizing.shufflePartitions(sfDir, ctx.cores).toString
        case other => other
      }
      b.config(k, v)
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def listen(ctx: Ctx, spark: SparkSession): Option[SparkStats] =
    Option.when(ctx.trace) {
      val s = new SparkStats
      spark.sparkContext.addSparkListener(s)
      s
    }

  /** Record the Spark jobs that ran inside `op` as its children, or as
    * children of `inner` when they fall inside it.
    */
  def addJobSpans(ctx: Ctx, stats: SparkStats, op: Span, inner: Span*): Unit = {
    // listener times are epoch ms; spans use nanoTime
    val offset = System.nanoTime() - System.currentTimeMillis() * 1000000L
    stats.jobWindows.forEach { case (s, e) =>
      val (s0, e0) = (s * 1000000L + offset, e * 1000000L + offset)
      if (s0 >= op.start - 1000000L && e0 <= op.end + 1000000L) {
        val parent = inner.find(p => s0 >= p.start && e0 <= p.end).getOrElse(op)
        ctx.tracer.add(Span(ctx.tracer.newId(), parent.id, op.op, "spark.job", s0, e0))
      }
    }
  }

  def fsMetrics(fs: FsStats.Snapshot): Map[String, Double] =
    FsStats.Ops.map(o => s"fs.$o" -> fs.count(o).toDouble).toMap ++
      Seq("lake", "mirror", "checkpoint", "store").map(r => s"fs.${r}_s" -> fs.seconds(r))

  def sparkMetrics(d: Map[String, Long], wallS: Double, cores: Int): Map[String, Double] = Map(
    "spark.jobs" -> d("jobs").toDouble, "spark.stages" -> d("stages").toDouble,
    "spark.tasks" -> d("tasks").toDouble, "spark.task_s" -> d("task_ms") / 1e3,
    "spark.task_wait_s" -> d("task_wait_ms") / 1e3, "spark.gc_s" -> d("gc_ms") / 1e3,
    "spark.shuffle_write_bytes" -> d("shuffle_write_bytes").toDouble,
    "spark.shuffle_read_bytes" -> d("shuffle_read_bytes").toDouble,
    "spark.spill_bytes" -> d("spill_bytes").toDouble,
    "spark.parallel_efficiency" -> (if (wallS > 0) d("task_ms") / 1e3 / (wallS * cores) else 0.0))
}

object Main {
  /** The metrics `BENCHMARK.json` declares under `key`, in order, with units. */
  private def declared(home: Path, key: String): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    Json.read(home.resolve("BENCHMARK.json")).get(key).elements().asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq
  }

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(args: Array[String]): Unit = {
    def need(n: String) = arg(args, n).getOrElse(sys.error(s"missing $n"))
    val home = Paths.get(need("--home")).toAbsolutePath
    val settings = Json.read(home.resolve("perfbench/settings.json"))
    val trace = need("--trace") match {
      case "0" => false
      case "1" => true
      case t => sys.error(s"--trace must be 0 or 1, got $t")
    }
    // storage calls are counted by registering the counting filesystem for
    // file: before any Configuration or FileSystem exists in this JVM
    if (trace) org.apache.hadoop.conf.Configuration.addDefaultResource("perfbench-trace-site.xml")
    val ctx = Ctx(settings, home, need("--workload"), need("--seed").toLong,
      need("--seconds").toDouble, trace, Paths.get(need("--root")).toAbsolutePath,
      args.contains("--record"), new Tracer(trace))
    val out = ctx.workload match {
      case "lake_sync" => LakeSyncBench.run(ctx)
      case "board_pairs" => BoardBench.run(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    val rss = Rss.peakMb
    val computed = if (trace) out.perLayer + ("jvm.peak_rss_mb" -> rss) else out.endToEnd
    val names = declared(home, if (trace) "per_layer" else "end_to_end")
    val unknown = computed.keySet -- names.map(_._1)
    require(unknown.isEmpty, s"metrics not declared in BENCHMARK.json: $unknown")
    val missing = if (trace) Nil else names.map(_._1).filterNot(computed.contains)
    val metrics = names.map { case (k, u) => (k, computed.getOrElse(k, 0.0), u) }
    if (trace)
      ctx.tracer.write(home.resolve(".bench_out").resolve(s"trace_${ctx.workload}_seed${ctx.seed}.jsonl"))
    val failedRatio = out.failed.toDouble / out.attempted
    println(Json.obj(Seq("report" -> Json.obj(Seq(
      "workload" -> Json.str(ctx.workload), "trace" -> trace.toString,
      "failed_ratio" -> Json.num(failedRatio), "peak_rss_mb" -> Json.num(rss)) ++ out.report))))
    // a time with no passing op behind it is not a measurement: no result
    if (missing.nonEmpty)
      System.err.println(s"[perfbench] no passing op to measure ${missing.mkString(", ")}")
    else println(Json.obj(Seq(
      "correct" -> (out.failed == 0).toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    System.out.flush()
    // Spark leaves non-daemon threads behind; end the JVM explicitly
    SparkSession.getActiveSession.foreach(_.stop())
    System.exit(if (missing.isEmpty) 0 else 1)
  }
}
