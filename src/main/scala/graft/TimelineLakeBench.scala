package graft

import java.nio.file.{Files, Paths}

import graft.model.UploadStrategy
import graft.operators.{ActiveTimelineBatcher, TableDiscovery}
import graft.sources.FsListing
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Timeline-layer SCALE probe (builder tooling, like [[Bench]]): the tl_
  * registry queries run on a KB-scale fixture, so their bench growth rows
  * are pure noise — this main synthesizes a metadata lake of
  * `SPARK_GRAFT_LAKE_TABLES` tables x `SPARK_GRAFT_LAKE_GROUPS` commit
  * groups (default 1000 x 33 = ~103k timeline files) and times the real
  * timeline dataflow over it:
  *
  *   - discovery: BFS listing over every database dir (driver-side pool);
  *   - full sync: [[jobs.LakeViewSync.runOnce]] — properties, batching,
  *     commit-atomic mirror, checkpoints, for every table;
  *   - resume: the same runOnce again — the incremental no-op path a
  *     continuous deployment runs every tick (checkpoint seek + listing,
  *     no bytes moved);
  *   - lake-wide batching: one [[ActiveTimelineBatcher.batchByTable]] pass
  *     over every table's listing as a single Dataset (the G4 fold at
  *     100k-instant scale);
  *   - partition insights over the MIRROR: per-table file counts / size
  *     percentiles / skew from the mirrored lake's distributed listing —
  *     the tl_partition_insights shape on metadata-lake input instead of
  *     the orders stand-in.
  *
  * Prints one JSON line with per-phase seconds, so two runs (e.g. 100 vs
  * 1000 tables) give the growth factors SURVEY §2.10 reports.
  */
object TimelineLakeBench {

  private def synthesize(root: String, nTables: Int, groups: Int): Long = {
    // the f"202401${1 + g / 10}%02d..." instant template stays a valid
    // 17-digit V9 instant only while the day field has 2 digits
    require(groups <= 300,
      s"SPARK_GRAFT_LAKE_GROUPS must be <= 300 (got $groups): larger values " +
        "overflow the synthetic instant's 2-digit day field")
    var files = 0L
    (0 until nTables).foreach { t =>
      val db = s"db${t % 10}"
      val dir = Paths.get(root, "lake", db, f"tbl$t%04d", ".hoodie")
      Files.createDirectories(dir.resolve("archived"))
      Files.writeString(dir.resolve("hoodie.properties"),
        s"hoodie.table.name=tbl$t\nhoodie.table.type=MERGE_ON_READ\n")
      files += 1
      (0 until groups).foreach { g =>
        // V9-style 17-digit instants, deltacommit-heavy like a MOR table,
        // one compaction every 8th group
        val ts = f"202401${1 + g / 10}%02d${100000 + g}%06d000"
        val action = if (g % 8 == 7) "compaction" else "deltacommit"
        Seq(s"$ts.$action.requested", s"$ts.$action.inflight",
          s"${ts}_${ts.toLong + 500}.$action").foreach { f =>
          Files.writeString(dir.resolve(f), "")
          files += 1
        }
      }
      Seq(".commits_.archive.1_1-0-1", ".commits_.archive.2_1-0-1").foreach { f =>
        Files.writeString(dir.resolve("archived").resolve(f), "archive-bytes")
        files += 1
      }
    }
    files
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val nTables = sys.env.getOrElse("SPARK_GRAFT_LAKE_TABLES", "1000").toInt
    val groups = sys.env.getOrElse("SPARK_GRAFT_LAKE_GROUPS", "33").toInt
    val root = args.headOption.getOrElse(
      Files.createTempDirectory("graft_lake_bench").toString)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val (nFiles, synthS) = timed(synthesize(root, nTables, groups))
    val bases = (0 until 10).map(i =>
      TableDiscovery.BasePath("lake1", s"db$i", s"file:$root/lake/db$i"))

    val (tables, discoverS) = timed {
      TableDiscovery.discover(spark, bases).collect().toSeq.sortBy(_.absoluteTableUri)
    }
    require(tables.size == nTables, s"discovered ${tables.size} of $nTables")

    val cfg = jobs.LakeViewSync.SyncConfig(
      basePaths = bases,
      mirrorRoot = s"file:$root/mirror",
      checkpointDir = s"file:$root/checkpoints")
    val (r1, syncS) = timed(jobs.LakeViewSync.runOnce(spark, cfg))
    require(r1.allSucceeded && r1.tablesSynced == nTables,
      s"sync: $r1")
    val (r2, resumeS) = timed(jobs.LakeViewSync.runOnce(spark, cfg))
    require(r2.filesMirrored == 0, s"resume mirrored ${r2.filesMirrored}")

    // lake-wide G4 batching: every table's active listing in one Dataset
    val (nBatchedFiles, batchS) = timed {
      val listings = FsListing.listDirs(spark,
        tables.map(t => s"${t.absoluteTableUri}/.hoodie"))
      val keyed = listings.map { case (dir, f) => (dir, f) }
        .filter(x => !x._2.isDirectory)
      ActiveTimelineBatcher.batchByTable(keyed, maxBatchSize = 20, Map.empty,
        UploadStrategy.BlockOnIncompleteCommit).count()
    }

    // partition insights over the mirrored metadata lake: per-table file
    // counts, file-age percentiles, and count skew — the §2.9
    // tl_partition_insights shape (grouped DISC percentiles + a global
    // window) on real lake input instead of the orders stand-in
    val (nInsightRows, insightsS) = timed {
      val mirrored = FsListing.listDirs(spark,
        tables.map(t => s"file:$root/mirror/${t.tableId}/active"))
      val per = mirrored.toDF("dir", "f")
        .select(col("dir"), expr("unix_millis(f.lastModifiedAt)").as("age"))
        .groupBy(col("dir"))
        .agg(count(lit(1)).as("n_files"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY age)").as("p50_age"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY age)").as("p90_age"))
      // collect, don't count: under count() Catalyst prunes the percentile
      // aggregates and the skew window entirely and the phase would time a
      // listing + groupBy-count instead of the computation it names
      per.withColumn("avg_files",
          expr("cast(sum(n_files) over () as double) / count(*) over ()"))
        .withColumn("skew", expr("round(n_files / avg_files - 1, 6)"))
        .collect().length
    }
    require(nInsightRows == nTables, s"insights rows $nInsightRows")

    println(s"""{"metric":"timeline_lake","tables":$nTables,"groups":$groups,""" +
      s""""files":$nFiles,"synth_s":${f"$synthS%.2f"},"discover_s":${f"$discoverS%.2f"},""" +
      s""""sync_s":${f"$syncS%.2f"},"files_mirrored":${r1.filesMirrored},""" +
      s""""resume_s":${f"$resumeS%.2f"},"batch_rows":$nBatchedFiles,""" +
      s""""batch_s":${f"$batchS%.2f"},"insights_s":${f"$insightsS%.2f"}}""")
    spark.stop()
  }
}
