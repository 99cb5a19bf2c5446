package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.chaining._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive fingerprint of a result: its row count and the
  * DECIMAL sum of a 64-bit hash over every column, so every output column
  * is computed (a bare `count()` lets Catalyst prune aggregates and
  * projections). Floating-point values are rounded to `digits` decimals
  * first, because their last bits depend on summation order, and -0.0 is
  * folded into 0.0.
  */
object Checksum {
  private def hasFloat(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(e, _) => hasFloat(e)
    case StructType(fs) => fs.exists(f => hasFloat(f.dataType))
    case _ => false
  }

  private def normalize(c: Column, t: DataType, digits: Int): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), digits) + lit(0.0)
    case ArrayType(e, _) if hasFloat(e) => transform(c, x => normalize(x, e, digits))
    case StructType(fs) if hasFloat(t) =>
      struct(fs.toSeq.map(f => normalize(c.getField(f.name), f.dataType, digits).as(f.name)): _*)
    case _ => c
  }

  def of(df: DataFrame, digits: Int): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => normalize(col(f.name), f.dataType, digits))
    val r = named.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}

/** The board workloads: one op is one registry row, built through
  * `SparkEntry.registry(row).fn` and materialized through [[Checksum]];
  * one pass runs every row of the workload in a seed-permuted order.
  */
object BoardBench {

  private final case class RowRun(build: Double, action: Double, rows: Long, checksum: String) {
    def wall: Double = build + action
  }

  def run(ctx: Ctx): Outcome = {
    val cfg = ctx.settings.get("board")
    val sfDir = ctx.home.resolve(cfg.get("sf_dir").asText).toString
    System.setProperty("graft.sf.dir", sfDir)
    val digits = cfg.get("float_digits").asInt
    val finalOps = ctx.settings.get("final_ops").asInt
    val rows = cfg.get("rows").get(ctx.workload).elements().asScala.map(_.asText).toSeq
    val order = new Random(ctx.seed).shuffle(rows)
    val expectedPath = ctx.home.resolve(s"perfbench/expected/${ctx.workload}.json")
    val expected: Map[String, (Long, String)] =
      if (ctx.record) Map.empty
      else {
        val j = Json.read(expectedPath)
        rows.map(r => r -> (j.get(r).get("rows").asLong, j.get(r).get("checksum").asText)).toMap
      }
    val spark = Session.start(ctx, cfg.get("session"), sfDir)
    val sessionS = ctx.sinceJvmStart
    val stats = Session.listen(ctx, spark)
    val registry = graft.SparkEntry.registry
    val ops = new Ops
    val observed = collection.mutable.Map.empty[String, (Long, String)]

    def runRow(name: String): Option[RowRun] = ops.attempt(name) {
      val (df, build) = ctx.tracer.span("analytics.build") { registry(name).fn(spark, sfDir) }
      val ((n, sum), action) = ctx.tracer.span("analytics.action") { Checksum.of(df, digits) }
      graft.CacheTracker.releaseAll()
      val errors =
        if (ctx.record) observed.get(name).filter(_ != (n -> sum))
          .map(o => s"unstable result: $o then ${(n, sum)}").toSeq
        else expected.get(name).filter(_ != (n -> sum))
          .map { case (en, es) => s"got $n rows, checksum $sum; expected $en rows, checksum $es" }.toSeq
      observed(name) = n -> sum
      (RowRun(build.seconds, action.seconds, n, sum), errors)
    }

    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def list(d: Path): Seq[Path] = {
      val s = Files.list(d)
      try s.iterator.asScala.toSeq finally s.close()
    }
    def stores: Set[Path] =
      if (!Files.isDirectory(tmp)) Set.empty
      else list(tmp).filter(_.getFileName.toString.startsWith("graft-")).flatMap(list).toSet
    if (ctx.trace)
      FsStats.setRoots(Seq(tmp.toString -> "store"))

    // ---- setup: the warm-up passes, in which the persistent stores get built
    val builtBy = collection.mutable.Map.empty[String, Double]
    val (_, warmS) = Time.timed {
      (1 to cfg.get("warmup_passes").asInt).foreach { _ =>
        order.foreach { name =>
          val before = stores
          val (_, dt) = Time.timed(ctx.tracer.span(s"warmup:$name")(runRow(name)))
          if ((stores -- before).nonEmpty) builtBy(name) = dt
        }
      }
    }
    val storeDirs = stores
    val setupS = sessionS + warmS

    // ---- measured passes until the time is used, at least `final_ops`;
    // one pass when traced
    val passes = Seq.newBuilder[Double]
    val byRow = collection.mutable.Map.empty[String, Seq[RowRun]].withDefaultValue(Nil)
    val fs0 = FsStats.snapshot()
    val sp0 = stats.map(_.snapshot(spark))
    var measured = 0.0
    var k = 0
    val opSpans = Seq.newBuilder[Span]
    while (k == 0 || (!ctx.trace && (k < finalOps || measured < ctx.seconds))) {
      spark.catalog.clearCache()
      val (runs, pass) = ctx.tracer.span("board.pass", ctx.tracer.newId()) {
        order.map(name => name -> ctx.tracer.span(s"row:$name")(runRow(name)))
      }
      opSpans += pass
      runs.foreach { case (name, (r, _)) => r.foreach(x => byRow(name) :+= x) }
      if (runs.forall(_._2._1.isDefined)) passes += pass.seconds
      measured += pass.seconds
      k += 1
    }
    val fs = FsStats.snapshot() - fs0

    if (ctx.record) {
      val body = rows.map { r =>
        val (n, s) = observed(r)
        s"  ${Json.str(r)}: {\"rows\": $n, \"checksum\": ${Json.str(s)}}"
      }.mkString("{\n", ",\n", "\n}\n")
      Files.writeString(expectedPath, body)
    }

    val samples = rows.flatMap(byRow(_).map(_.wall))
    val passS = passes.result()
    val tail = Stats.tail(samples)
    val perLayer: Map[String, Double] = stats.map { st =>
      val sp = SparkStats.delta(st.snapshot(spark), sp0.get)
      val span = opSpans.result().head
      Session.addJobSpans(ctx, st, span)
      val all = byRow.values.flatten
      Map(
        "analytics.build_s" -> all.map(_.build).sum,
        "analytics.action_s" -> all.map(_.action).sum,
        "trace.op_wall_s" -> span.seconds,
        "operators.store_builds" -> storeDirs.size.toDouble,
        "operators.store_bytes" -> storeDirs.toSeq.map(Dirs.bytesUnder).sum.toDouble,
        // a store-building row's warm-up time beyond its measured median
        "operators.store_build_s" -> builtBy.map { case (r, w) =>
          byRow(r).map(_.wall) match {
            case Nil => w
            case ws => math.max(0.0, w - Stats.median(ws))
          }
        }.sum
      ) ++ rows.map(r => s"analytics.${r}_s" ->
        byRow(r).map(_.wall).pipe(ws => if (ws.isEmpty) 0.0 else Stats.median(ws))) ++
        Session.fsMetrics(fs) ++
        Session.sparkMetrics(sp, span.seconds, ctx.cores)
    }.getOrElse(Map.empty)

    // one pass's worth of work: the sum over the rows of the median of each
    // row's last `final_ops` passing runs (the same count however fast a row
    // is, and the first, colder passes left out); no metric while a row has
    // no passing run
    val rowMedians = rows.map(r => byRow(r).map(_.wall).takeRight(finalOps))
      .filter(_.nonEmpty).map(Stats.median)
    Outcome(ops.attempted, ops.failed,
      endToEnd = Map("setup_s" -> setupS) ++
        Option.when(rowMedians.size == rows.size)("pass_s" -> rowMedians.sum),
      perLayer = perLayer,
      report = Seq("rows" -> rows.size.toString, "passes" -> k.toString,
        "pass_walls_s" -> passS.map(Json.num).mkString("[", ",", "]"),
        "query_samples" -> samples.size.toString,
        "query_p50_s" -> (if (samples.nonEmpty) Json.num(Stats.median(samples)) else "null"),
        "query_tail" -> tail.map { case (p, v) => s"""{"p":$p,"s":${Json.num(v)}}""" }
          .getOrElse("null"),
        "setup_session_s" -> Json.num(sessionS), "setup_warmup_s" -> Json.num(warmS),
        "stores" -> storeDirs.size.toString,
        "row_s" -> Json.obj(rows.map(r => r -> byRow(r).map(x => Json.num(x.wall)).mkString("[", ",", "]")))))
  }
}
