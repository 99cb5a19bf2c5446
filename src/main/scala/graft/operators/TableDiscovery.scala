package graft.operators

import java.util.concurrent.{Callable, ExecutionException, Executors}

import graft.functions.InstantFunctions
import graft.model.{FileEntry, HudiTable}
import graft.sources.FsListing
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Dataset, SparkSession}

/** Recursive Hudi-table discovery (SURVEY §2.2 D1-D5). Reference semantics
  * (`metadata_extractor/TableDiscoveryService.java:59-196`):
  *
  *   - a directory IS a table iff its listing contains an entry whose name
  *     starts with ".hoodie" (D1); recursion descends only into
  *     subdirectories of non-table dirs;
  *   - exclusion patterns are java-regex FULL matches against the directory
  *     uri (D2) — pruned before descending;
  *   - a base path may pin an explicit tableId with the `path#tableId`
  *     suffix (D3); otherwise tableId = UUIDv3 of "uri" (D5, matching
  *     java.util.UUID.nameUUIDFromBytes);
  *   - results are deduplicated across base paths (D4).
  *
  * Execution shape: level-synchronous BFS on the driver. Each level's
  * frontier is listed by a bounded thread pool, one [[FsListing.listDir]]
  * call per directory and at most 64 in flight (the reference runs one
  * future per directory). No Spark job runs: a listing is one small
  * metadata call, far cheaper than the scheduling, shuffle and planning of
  * a job per level (SURVEY "Driver-loop vs DataFrame boundary").
  */
object TableDiscovery {

  private val MaxListingThreads = 64

  /** One configured base path (reference config Database.basePaths). */
  final case class BasePath(
      lakeName: String,
      databaseName: String,
      uri: String) {
    /** `path#tableId` pins an explicit id (TableDiscoveryService.java:38). */
    def pinnedId: Option[String] = {
      val i = uri.lastIndexOf('#')
      if (i >= 0) Some(uri.substring(i + 1)) else None
    }
    def cleanUri: String = {
      val i = uri.lastIndexOf('#')
      (if (i >= 0) uri.substring(0, i) else uri).stripSuffix("/")
    }
  }

  private final case class Dir(lake: String, db: String, uri: String, origin: String)

  /** Full-match exclusion (reference uses String.matches — anchor). */
  private def excluded(uri: String, patterns: Seq[String]): Boolean =
    patterns.exists(p => uri.matches(p))

  /** List one BFS level concurrently, in `uris` order. A failed listing
    * rethrows its own storage exception, not the pool's wrapper.
    */
  private def listLevel(conf: Configuration, uris: Seq[String]): Seq[Seq[FileEntry]] = {
    val pool = Executors.newFixedThreadPool(math.min(uris.size, MaxListingThreads))
    try {
      uris
        .map(uri => pool.submit(new Callable[Seq[FileEntry]] {
          def call(): Seq[FileEntry] = FsListing.listDir(conf, uri)
        }))
        .map(f => try f.get() catch { case e: ExecutionException => throw e.getCause })
    } finally pool.shutdownNow()
  }

  /** Discover all Hudi tables under the given base paths. */
  def discover(
      spark: SparkSession,
      basePaths: Seq[BasePath],
      excludePatterns: Seq[String] = Nil): Dataset[HudiTable] = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration

    // tables are tagged with the base-path config they were discovered from:
    // a `path#tableId` pin applies AFTER discovery and only when the path
    // yielded exactly one table (TableDiscoveryService.java:96-117 — a
    // pinned path with zero or several tables contributes nothing)
    val found = Seq.newBuilder[(String, HudiTable)]

    var frontier: Seq[Dir] = basePaths
      .filterNot(bp => excluded(bp.cleanUri, excludePatterns))
      .map(bp => Dir(bp.lakeName, bp.databaseName, bp.cleanUri, bp.uri))

    while (frontier.nonEmpty) {
      frontier = frontier.zip(listLevel(conf, frontier.map(_.uri))).flatMap {
        case (d, entries) if entries.exists(_.filename.startsWith(".hoodie")) =>
          found += d.origin -> HudiTable(d.uri, d.db, d.lake, InstantFunctions.uuidV3(d.uri))
          Nil
        case (d, entries) =>
          entries.filter(_.isDirectory).map(e => s"${d.uri}/${e.filename}")
            .filterNot(excluded(_, excludePatterns))
            .map(s => Dir(d.lake, d.db, s, d.origin))
      }
    }

    val pinnedIdByOrigin = basePaths
      .flatMap(bp => bp.pinnedId.map(bp.uri -> _)).toMap
    val tables = found.result().groupBy(_._1).toSeq.flatMap { case (origin, ts) =>
      pinnedIdByOrigin.get(origin) match {
        case Some(id) =>
          if (ts.size == 1) ts.map(_._2.copy(tableId = id))
          else Nil // ambiguous or empty pin: exactly-one rule
        case None => ts.map(_._2)
      }
    }
    // a local relation: collecting it starts no job
    spark.createDataset(tables.distinct)
  }
}
