package perfbench

import java.nio.file.Path

import scala.util.control.NonFatal

import graft.jobs.LakeViewSync
import graft.model.Checkpoint
import graft.operators.{ActiveTimelineBatcher, CheckpointStore, TableDiscovery, TimelineMirror}
import graft.sources.{FsListing, HoodiePropertiesReader, LsmManifestReader}
import org.apache.spark.sql.SparkSession

/** `lake_sync`: one op is one `LakeViewSync.runOnce` over the seeded lake
  * into a fresh mirror and checkpoint root, checked file by file.
  */
object LakeSyncBench {

  def run(ctx: Ctx): Outcome = {
    val cfg = ctx.settings.get("lake")
    val shape = LakeShape(cfg.get("shape"))
    val sync = cfg.get("sync")
    val tableBatch = sync.get("tableBatchSize").asInt
    val maxBatch = sync.get("maxBatchSize").asInt
    val finalOps = ctx.settings.get("final_ops").asInt
    val spark = Session.start(ctx, cfg.get("session"), sfDir = "")
    val sessionS = ctx.sinceJvmStart
    val stats = Session.listen(ctx, spark)
    val ops = new Ops

    def syncConfig(lake: Lake, mirror: Path, ckpt: Path) = LakeViewSync.SyncConfig(
      basePaths = (0 until shape.databases).map(d =>
        TableDiscovery.BasePath("lake", s"db$d", lake.dbUri(d))),
      mirrorRoot = s"file:$mirror", checkpointDir = s"file:$ckpt",
      maxBatchSize = maxBatch, tableBatchSize = tableBatch)

    /** One checked sync into fresh roots; the wall time when it passed. */
    def syncOp(lake: Lake, tag: String): Option[(Double, LakeViewSync.SyncReport)] = {
      val mirror = ctx.root.resolve(s"mirror_$tag")
      val ckpt = ctx.root.resolve(s"checkpoints_$tag")
      try ops.attempt(s"sync $tag") {
        val (report, dt) = Time.timed(LakeViewSync.runOnce(spark, syncConfig(lake, mirror, ckpt)))
        val errors = Seq(
          Option.when(!report.allSucceeded)(s"allSucceeded=false ${report.failures.take(3)}"),
          Option.when(report.tablesSynced != lake.tables.size)(
            s"synced ${report.tablesSynced} of ${lake.tables.size} tables"),
          Option.when(report.filesMirrored != lake.files)(
            s"reported ${report.filesMirrored} files mirrored, expected ${lake.files}")
        ).flatten ++ lake.check(mirror, ckpt)
        ((dt, report), errors)
      } finally { Dirs.delete(mirror); Dirs.delete(ckpt) }
    }

    // ---- setup: the lake, then checked warm-up syncs of it
    val (lake, synthS) = Time.timed {
      val l = Lake.generate(ctx.root.resolve("lake"), shape, ctx.seed); l.write(); l
    }
    val (_, warmS) = Time.timed {
      (1 to cfg.get("warmup_syncs").asInt).foreach(i => syncOp(lake, s"warmup$i"))
    }
    val setupS = sessionS + synthS + warmS

    // ---- measured ops: syncs until the time is used, at least `final_ops`
    val samples = Seq.newBuilder[Double]
    var files = 0L
    val perLayer: Map[String, Double] =
      if (!ctx.trace) {
        var measured = 0.0
        var k = 0
        while (k < finalOps || measured < ctx.seconds) {
          val (r, dt) = Time.timed(syncOp(lake, s"op$k"))
          r.foreach { case (s, rep) => samples += s; files += rep.filesMirrored }
          measured += dt
          k += 1
        }
        Map.empty
      } else {
        val m = tracedOp(ctx, spark, stats.get, lake, syncConfig _, tableBatch, ops, samples)
        m ++ layerPass(ctx, spark, lake, syncConfig _, ops)
      }
    // the last `final_ops` passing syncs: the same count however fast a sync
    // is, and the first, colder ones left out; no metric without a passing one
    val s = samples.result()
    Outcome(ops.attempted, ops.failed,
      endToEnd = Map("setup_s" -> setupS) ++
        Option.when(s.nonEmpty)("pass_s" -> Stats.median(s.takeRight(finalOps))),
      perLayer = perLayer,
      report = Seq("tables" -> lake.tables.size.toString, "files" -> lake.files.toString,
        "sync_files_per_s" -> (if (s.nonEmpty && !ctx.trace) Json.num(files / s.sum) else "null"),
        "sync_s" -> s.map(Json.num).mkString("[", ",", "]"),
        "setup_session_s" -> Json.num(sessionS), "setup_synth_s" -> Json.num(synthS),
        "setup_warmup_s" -> Json.num(warmS)))
  }

  /** One sync with storage calls and Spark jobs attributed to its blocking
    * steps: discovery (op start to the first table's first timeline call),
    * then each `tableBatchSize`-table batch (the program's batch order:
    * tables sorted by uri), and the job's own time between them.
    */
  private def tracedOp(ctx: Ctx, spark: SparkSession, stats: SparkStats, lake: Lake,
      syncConfig: (Lake, Path, Path) => LakeViewSync.SyncConfig, tableBatch: Int,
      ops: Ops, samples: collection.mutable.Builder[Double, Seq[Double]]): Map[String, Double] = {
    val mirror = ctx.root.resolve("mirror_traced")
    val ckpt = ctx.root.resolve("checkpoints_traced")
    FsStats.setRoots(Seq(lake.root.toString -> "lake", mirror.toString -> "mirror",
      ckpt.toString -> "checkpoint", System.getProperty("java.io.tmpdir") -> "store"))
    val fs0 = FsStats.snapshot()
    val sp0 = stats.snapshot(spark)
    FsStats.recordTables(true)
    val opId = ctx.tracer.newId()
    val (report, opSpan) = ctx.tracer.span("jobs.sync", opId) {
      try LakeViewSync.runOnce(spark, syncConfig(lake, mirror, ckpt))
      catch { case NonFatal(e) => e }
    }
    val windows = FsStats.tableWindows
    FsStats.recordTables(false)
    val fs = FsStats.snapshot() - fs0
    val sp = SparkStats.delta(stats.snapshot(spark), sp0)
    ops.attempt("sync traced") {
      report match {
        case r: LakeViewSync.SyncReport =>
          ((), Option.when(!r.allSucceeded || r.filesMirrored != lake.files)(
            s"report $r").toSeq ++ lake.check(mirror, ckpt))
        case e: Throwable => throw e
      }
    }.foreach(_ => samples += opSpan.seconds)
    Dirs.delete(mirror); Dirs.delete(ckpt)

    // per-table window = first to last timeline call on any of its roots
    val relOfKey = lake.tables.flatMap(t => Seq(t.rel -> t.rel, s"id:${lake.tableId(t)}" -> t.rel)).toMap
    val tableWin: Map[String, (Long, Long)] = windows.toSeq
      .flatMap { case (k, w) => relOfKey.get(k).map(_ -> w) }
      .groupBy(_._1).map { case (rel, ws) => rel -> (ws.map(_._2._1).min, ws.map(_._2._2).max) }
    val batches = lake.tables.sortBy(lake.uri).grouped(tableBatch).toSeq
      .map(_.flatMap(t => tableWin.get(t.rel)))
      .filter(_.nonEmpty)
    val batchWin = batches.map(ws => (ws.map(_._1).min, ws.map(_._2).max))
    val discoverEnd = batchWin.headOption.map(_._1).getOrElse(opSpan.end)
    val discoverSpan = Span(ctx.tracer.newId(), opSpan.id, opId, "jobs.discover_phase",
      opSpan.start, discoverEnd)
    ctx.tracer.add(discoverSpan)
    batchWin.zip(batches).foreach { case ((b0, b1), ws) =>
      val bs = Span(ctx.tracer.newId(), opSpan.id, opId, "jobs.batch", b0, b1)
      ctx.tracer.add(bs)
      ws.foreach { case (t0, t1) => ctx.tracer.add(Span(ctx.tracer.newId(), bs.id, opId, "table", t0, t1)) }
    }
    Session.addJobSpans(ctx, stats, opSpan, discoverSpan)
    val batchS = batchWin.map { case (a, b) => (b - a) / 1e9 }
    val straggler = batches.map { ws =>
      val d = ws.map { case (a, b) => (b - a).toDouble }
      d.max / Stats.median(d)
    }
    val files = report match { case r: LakeViewSync.SyncReport => r.filesMirrored; case _ => 0L }
    Map(
      "jobs.sync_s" -> opSpan.seconds,
      "jobs.batch_s" -> (if (batchS.isEmpty) 0.0 else Stats.median(batchS)),
      "jobs.batch_straggler_ratio" -> (if (straggler.isEmpty) 0.0 else Stats.median(straggler)),
      "jobs.discover_phase_s" -> discoverSpan.seconds,
      "jobs.self_s" -> (opSpan.seconds - discoverSpan.seconds - batchS.sum),
      "trace.op_wall_s" -> opSpan.seconds,
      "fs.ops_per_file" -> (if (files > 0) fs.total.toDouble / files else 0.0)
    ) ++ Session.fsMetrics(fs) ++ Session.sparkMetrics(sp, opSpan.seconds, ctx.cores)
  }

  /** The layer pass: the public functions `runOnce` composes, called one by
    * one, each in its own span, over the tables of the first sync batch,
    * sequentially, with the sync's settings and roots. Its wall against the
    * traced sync's first batch shows the job's own orchestration and
    * parallelism.
    */
  private def layerPass(ctx: Ctx, spark: SparkSession, lake: Lake,
      syncConfig: (Lake, Path, Path) => LakeViewSync.SyncConfig, ops: Ops): Map[String, Double] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val mirror = ctx.root.resolve("mirror_layers")
    val ckpt = ctx.root.resolve("checkpoints_layers")
    val cfg = syncConfig(lake, mirror, ckpt)
    val sums = collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val calls = collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def step[T](name: String)(body: => T): T = {
      val (r, s) = ctx.tracer.span(name)(body)
      sums(name) += s.seconds; calls(name) += 1
      r
    }
    val opId = ctx.tracer.newId()
    val (sample, pass) = ctx.tracer.span("layers.pass", opId) {
      val tables = step("operators.discover") {
        TableDiscovery.discover(spark, cfg.basePaths).collect().toSeq.sortBy(_.absoluteTableUri)
      }
      val sample = tables.take(cfg.tableBatchSize)
      sample.foreach { t =>
        val props = step("sources.properties") {
          HoodiePropertiesReader.read(conf, s"${t.absoluteTableUri}/.hoodie/hoodie.properties")
        }
        val layout = props.timelineLayoutVersion
        val listed = step("sources.list") {
          FsListing.listDir(conf, HoodiePropertiesReader.timelineDir(t.absoluteTableUri, layout, archived = false))
        }
        if (layout >= 2) step("sources.manifest") {
          LsmManifestReader.latestSnapshot(spark,
            HoodiePropertiesReader.timelineDir(t.absoluteTableUri, layout, archived = true))
        }
        step("operators.batcher") {
          ActiveTimelineBatcher.createBatches(listed.filterNot(_.isDirectory), cfg.maxBatchSize,
            Checkpoint.initial, cfg.strategy)
        }
        step("operators.mirror_table") {
          TimelineMirror.mirrorTable(spark, t, props, cfg.mirrorRoot, cfg.checkpointDir,
            cfg.maxBatchSize, cfg.strategy)
        }
        step("operators.checkpoint_load") {
          CheckpointStore.loadTable(conf, cfg.checkpointDir, t.tableId)
        }
      }
      sample
    }
    val sampleRels = sample.map(_.absoluteTableUri).toSet
    ops.attempt("layer pass") {
      ((), lake.check(mirror, ckpt, lake.tables.filter(t => sampleRels(lake.uri(t)))))
    }
    Dirs.delete(mirror); Dirs.delete(ckpt)
    val stepNames = Seq("operators.discover", "sources.properties", "sources.list",
      "sources.manifest", "operators.batcher", "operators.mirror_table", "operators.checkpoint_load")
    stepNames.map(k => s"${k}_s" -> sums(k)).toMap ++ Map(
      "layers.pass_s" -> pass.seconds,
      "layers.self_s" -> (pass.seconds - stepNames.map(sums).sum),
      "sources.list_calls" -> calls("sources.list"),
      "sources.properties_calls" -> calls("sources.properties"))
  }
}
