package graft

import java.nio.file.{Files, Paths}

import graft.jobs.LakeViewSync
import graft.model.{Checkpoint, TimelineType}
import graft.operators.{CheckpointStore, TableDiscovery}
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** Local filesystem under the `nochmod://` scheme whose `setPermission`
  * throws: any Hadoop `create` or directory creation on it fails, so a sync
  * into it succeeds only when the local sink writes bypass Hadoop.
  */
class NoChmodRawFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("nochmod:///")
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    NoChmodRawFs.calls.incrementAndGet()
    throw new java.io.IOException(s"setPermission $p")
  }
}

object NoChmodRawFs {
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
}

class NoChmodLocalFs extends LocalFileSystem(new NoChmodRawFs) {
  override def getScheme: String = "nochmod"
}

/** An object store whose `rename` always reports failure. */
class NoRenameStoreFs extends MockObjectStoreFs {
  override def getScheme: String = "norename"
  override def rename(src: Path, dst: Path): Boolean = false
}

/** The sink's write paths: locally, mirrored files and checkpoints go
  * through `java.nio`, never Hadoop's permission-setting local `create`,
  * and replace what an earlier Hadoop-written mirror left behind; on other
  * stores a checkpoint publish fails loudly when its rename fails.
  */
class SinkIOSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private def conf = spark.sparkContext.hadoopConfiguration
  private val props = "hoodie.table.name=alpha\nhoodie.table.type=COPY_ON_WRITE\n"

  private def rmTree(dir: String): Unit = {
    val r = Paths.get(dir)
    if (Files.exists(r)) {
      import scala.jdk.CollectionConverters._
      Files.walk(r).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
  }

  /** A one-table lake (properties + one complete commit group) and a sync
    * config mirroring it under `scheme`.
    */
  private def lake(root: String, scheme: String): LakeViewSync.SyncConfig = {
    Seq(root, s"$root-mirror", s"$root-cp").foreach(rmTree)
    Seq("hoodie.properties" -> props, "500.commit.requested" -> "",
      "500.commit.inflight" -> "", "500.commit" -> """{"partitionToWriteStats":{}}""")
      .foreach { case (f, content) =>
        val p = Paths.get(s"$root/db/alpha/.hoodie/$f")
        Files.createDirectories(p.getParent)
        Files.writeString(p, content)
      }
    val abs = Paths.get(root).toAbsolutePath.toString
    LakeViewSync.SyncConfig(
      basePaths = Seq(TableDiscovery.BasePath("lake", "db", s"file://$abs/db")),
      mirrorRoot = s"$scheme://$abs-mirror",
      checkpointDir = s"$scheme://$abs-cp")
  }

  private def tableId(cfg: LakeViewSync.SyncConfig): String =
    TableDiscovery.discover(spark, cfg.basePaths).collect().head.tableId

  test("a sync into a local mirror never calls setPermission on the destination") {
    conf.setClass("fs.nochmod.impl", classOf[NoChmodLocalFs], classOf[FileSystem])
    val root = "target/tmp/sink-nochmod"
    val cfg = lake(root, "nochmod")
    val fs = new Path(cfg.mirrorRoot).getFileSystem(conf)
    assert(fs.isInstanceOf[NoChmodLocalFs])
    // the guard is live: Hadoop's own local create trips it
    intercept[java.io.IOException](fs.create(new Path(s"${cfg.mirrorRoot}/probe"), true).close())
    rmTree(s"$root-mirror")
    NoChmodRawFs.calls.set(0)

    val r = LakeViewSync.runOnce(spark, cfg)
    assert(r.allSucceeded && r.filesMirrored == 4, r.failures.toString)
    assert(NoChmodRawFs.calls.get() == 0)
    val id = tableId(cfg)
    val cp = CheckpointStore.loadTable(conf, cfg.checkpointDir, id)(TimelineType.Active)
    assert(cp.lastUploadedFile == "500.commit")
    assert(Files.readString(Paths.get(s"$root-mirror/$id/active/hoodie.properties")) == props)
    import scala.jdk.CollectionConverters._
    val crcs = Seq(s"$root-mirror", s"$root-cp").flatMap(d =>
      Files.walk(Paths.get(d)).iterator().asScala.filter(_.toString.endsWith(".crc")))
    assert(crcs.isEmpty, s"no checksum sidecars expected, got $crcs")
    // a re-sync replaces the checkpoint in place, still without a chmod
    assert(LakeViewSync.runOnce(spark, cfg).filesMirrored == 0)
    assert(NoChmodRawFs.calls.get() == 0)
  }

  test("a checkpoint publish whose rename fails throws instead of losing the checkpoint") {
    conf.setClass("fs.norename.impl", classOf[NoRenameStoreFs], classOf[FileSystem])
    MockObjectStoreFs.clear("cp")
    val e = intercept[java.io.IOException](CheckpointStore.upsert(spark, "norename://cp/store",
      "t1", TimelineType.Active, Checkpoint.initial))
    assert(e.getMessage.contains("rename"))
  }

  test("a mirror and checkpoint store written through Hadoop re-sync over their .crc sidecars") {
    val root = "target/tmp/sink-stale-crc"
    val cfg = lake(root, "file")
    val id = tableId(cfg)
    val lfs = FileSystem.getLocal(conf)
    def hadoopWrite(p: String, content: String): Unit = {
      val out = lfs.create(new Path(p), true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    // the layout an earlier, Hadoop-written sync leaves: each file with a
    // `.crc` sidecar. The stale mirror file has the new file's length but
    // other bytes, and the stale checkpoint restarts the active timeline,
    // so the re-sync rewrites both.
    val mirrored = s"$root-mirror/$id/active/hoodie.properties"
    hadoopWrite(mirrored, props.replace("alpha", "omega"))
    hadoopWrite(s"$root-cp/$id/${TimelineType.Active}.json",
      CheckpointStore.toJson(Checkpoint.initial.copy(archivedCommitsProcessed = true)))
    assert(Files.exists(Paths.get(s"$root-mirror/$id/active/.hoodie.properties.crc")))
    assert(Files.exists(Paths.get(s"$root-cp/$id/.${TimelineType.Active}.json.crc")))

    val r = LakeViewSync.runOnce(spark, cfg)
    assert(r.allSucceeded && r.filesMirrored == 4, r.failures.toString)
    val cp = CheckpointStore.loadTable(conf, cfg.checkpointDir, id)(TimelineType.Active)
    assert(cp.lastUploadedFile == "500.commit" && cp.batchId == 1)
    val in = lfs.open(new Path(mirrored))
    val bytes = try in.readAllBytes() finally in.close()
    assert(new String(bytes, "UTF-8") == props)
  }
}
