package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.util.Random

import com.fasterxml.jackson.databind.JsonNode

/** Shape of the synthetic lake, from `settings.json` `lake.shape`. */
final case class LakeShape(tables: Int, databases: Int, groupsPerTable: Int,
    minGroupsPerTable: Int, groupMoves: Int, morTables: Int, v2Tables: Int,
    inflightEndTables: Int, v1ArchiveFiles: Int, v2ManifestParquets: Int,
    compactionEvery: Int, cleanEvery: Int, maxFileBytes: Int)

object LakeShape {
  def apply(n: JsonNode): LakeShape = LakeShape(
    n.get("tables").asInt, n.get("databases").asInt, n.get("groups_per_table").asInt,
    n.get("min_groups_per_table").asInt, n.get("group_moves").asInt,
    n.get("mor_tables").asInt, n.get("v2_tables").asInt,
    n.get("inflight_end_tables").asInt, n.get("v1_archive_files").asInt,
    n.get("v2_manifest_parquets").asInt, n.get("compaction_every").asInt,
    n.get("clean_every").asInt, n.get("max_file_bytes").asInt)
}

/** One generated Hudi table: the files written under its root, and what a
  * correct sync must leave in the mirror and the checkpoint store.
  *
  * @param files    (directory relative to the table root, name, bytes)
  * @param active   expected `<mirror>/<tableId>/active` content
  * @param archived expected `<mirror>/<tableId>/archived` content
  * @param marker   expected ACTIVE checkpoint `lastUploadedFile`: the
  *                 lexically first file of the last completed commit group
  */
final case class GenTable(rel: String, files: Seq[(String, String, Array[Byte])],
    active: Map[String, Array[Byte]], archived: Map[String, Array[Byte]],
    marker: String, manifestVersion: Int)

/** A seeded lake of MoR and CoW tables, V1 tables with archived files and
  * V2 (LSM history) tables, some of them ending on an inflight commit.
  * The same seed always gives the same lake.
  */
final class Lake(val root: Path, val tables: Seq[GenTable]) {
  def dbUri(db: Int): String = s"file:$root/db$db"
  def uri(t: GenTable): String = s"file:$root/${t.rel}"
  def tableId(t: GenTable): String =
    java.util.UUID.nameUUIDFromBytes(uri(t).getBytes(UTF_8)).toString
  def files: Int = tables.map(t => t.active.size + t.archived.size).sum

  def write(): Unit = tables.foreach { t =>
    t.files.foreach { case (dir, name, bytes) =>
      val d = root.resolve(t.rel).resolve(dir)
      Files.createDirectories(d)
      Files.write(d.resolve(name), bytes)
    }
  }

  /** Every difference between what the sync left and what it should have
    * left; empty when the mirror and the checkpoints are exactly right.
    * `only` restricts the check to some tables.
    */
  def check(mirror: Path, checkpoints: Path,
      only: Seq[GenTable] = tables): Seq[String] = {
    val errors = Seq.newBuilder[String]
    // Hadoop's checksummed local filesystem writes a ".<name>.crc" sidecar
    // next to each file; sidecars are a storage detail, not mirrored content
    def content(dir: Path): Map[String, Array[Byte]] =
      if (!Files.isDirectory(dir)) Map.empty
      else {
        val s = Files.list(dir)
        try s.toArray.map(_.asInstanceOf[Path])
          .filter(Files.isRegularFile(_))
          .map(p => p.getFileName.toString -> p)
          .filterNot { case (n, _) => n.startsWith(".") && n.endsWith(".crc") }
          .map { case (n, p) => n -> Files.readAllBytes(p) }.toMap
        finally s.close()
      }
    def same(what: String, got: Map[String, Array[Byte]], want: Map[String, Array[Byte]]): Unit = {
      val missing = want.keySet -- got.keySet
      val extra = got.keySet -- want.keySet
      val differ = (want.keySet & got.keySet).filterNot(n => java.util.Arrays.equals(got(n), want(n)))
      if (missing.nonEmpty) errors += s"$what: ${missing.size} missing, e.g. ${missing.min}"
      if (extra.nonEmpty) errors += s"$what: ${extra.size} unexpected, e.g. ${extra.min}"
      if (differ.nonEmpty) errors += s"$what: ${differ.size} differ in content, e.g. ${differ.min}"
    }
    val ids = only.map(tableId).toSet
    if (only.size == tables.size && Files.isDirectory(mirror)) {
      val s = Files.list(mirror)
      val strays = try s.toArray.map(_.asInstanceOf[Path].getFileName.toString)
        .filterNot(ids) finally s.close()
      if (strays.nonEmpty) errors += s"mirror holds ${strays.length} unknown table dirs"
    }
    only.foreach { t =>
      val id = tableId(t)
      same(s"${t.rel} active", content(mirror.resolve(id).resolve("active")), t.active)
      same(s"${t.rel} archived", content(mirror.resolve(id).resolve("archived")), t.archived)
      val cp = checkpoints.resolve(id).resolve("ACTIVE.json")
      if (!Files.isRegularFile(cp)) errors += s"${t.rel}: no ACTIVE checkpoint"
      else {
        val j = new com.fasterxml.jackson.databind.ObjectMapper().readTree(cp.toFile)
        val marker = j.path("lastUploadedFile").asText(null)
        if (marker != t.marker)
          errors += s"${t.rel}: checkpoint marker $marker, expected ${t.marker}"
        if (!j.path("archivedCommitsProcessed").asBoolean(false))
          errors += s"${t.rel}: archived timeline not marked processed"
        if (j.path("lastArchivedManifestVersion").asInt(-1) != t.manifestVersion)
          errors += s"${t.rel}: manifest version ${j.path("lastArchivedManifestVersion")}, " +
            s"expected ${t.manifestVersion}"
      }
    }
    errors.result()
  }
}

object Lake {
  private val Base = 20240101000000000L

  /** 17-digit instant of commit group `g`. */
  private def ts(g: Int): String = (Base + (g + 1) * 100000L).toString

  private def bytes(rnd: Random, max: Int): Array[Byte] =
    Array.fill(rnd.nextInt(max + 1))((' ' + 1 + rnd.nextInt(94)).toByte)

  def generate(root: Path, shape: LakeShape, seed: Long): Lake = {
    val rnd = new Random(seed)
    val n = shape.tables
    def pick(k: Int): Set[Int] = rnd.shuffle((0 until n).toVector).take(k).toSet
    val mor = pick(shape.morTables)
    val v2 = pick(shape.v2Tables)
    val inflight = pick(shape.inflightEndTables)
    // the lake-wide group total stays fixed, so the file count and the
    // work per sync barely move between seeds; only its spread does
    val groups = Array.fill(n)(shape.groupsPerTable)
    val maxGroups = 2 * shape.groupsPerTable - shape.minGroupsPerTable
    (0 until shape.groupMoves).foreach { _ =>
      val from = rnd.nextInt(n)
      val to = rnd.nextInt(n)
      if (groups(from) > shape.minGroupsPerTable && groups(to) < maxGroups) {
        groups(from) -= 1; groups(to) += 1
      }
    }
    val tables = (0 until n).map { t =>
      table(t, shape, groups(t), mor(t), v2(t), inflight(t), new Random(seed * 1000003L + t))
    }
    new Lake(root, tables)
  }

  private def table(t: Int, shape: LakeShape, nGroups: Int, mor: Boolean, v2: Boolean,
      inflightEnd: Boolean, rnd: Random): GenTable = {
    val rel = f"db${t % shape.databases}/tbl$t%04d"
    val timelineDir = if (v2) ".hoodie/timeline" else ".hoodie"
    val props = (s"hoodie.table.name=tbl$t\n" +
      s"hoodie.table.type=${if (mor) "MERGE_ON_READ" else "COPY_ON_WRITE"}\n" +
      (if (v2) "hoodie.table.version=8\nhoodie.timeline.layout.version=2\n" else ""))
      .getBytes(UTF_8)
    val files = Seq.newBuilder[(String, String, Array[Byte])]
    files += ((".hoodie", "hoodie.properties", props))
    var active = if (v2) Map.empty[String, Array[Byte]] else Map("hoodie.properties" -> props)
    var lastComplete: Seq[String] = Nil
    (0 until nGroups).foreach { g =>
      val (action, completedAction) =
        if (mor && (g + 1) % shape.compactionEvery == 0) ("compaction", "commit")
        else if (!mor && (g + 1) % shape.cleanEvery == 0) ("clean", "clean")
        else if (mor) ("deltacommit", "deltacommit")
        else ("commit", "commit")
      val i = ts(g)
      val requested = (s"$i.$action.requested",
        if (rnd.nextBoolean()) Array.emptyByteArray else bytes(rnd, shape.maxFileBytes))
      val inflight = (s"$i.$action.inflight", bytes(rnd, shape.maxFileBytes))
      val completedName =
        if (v2) s"${i}_${i.toLong + 500}.$completedAction" else s"$i.$completedAction"
      val group =
        if (inflightEnd && g == nGroups - 1) Seq(requested, inflight)
        else Seq(requested, inflight, completedName -> bytes(rnd, shape.maxFileBytes))
      group.foreach { case (name, b) => files += ((timelineDir, name, b)) }
      if (group.size == 3) {
        active ++= group
        lastComplete = group.map(_._1)
      }
    }
    val archived: Map[String, Array[Byte]] =
      if (!v2) {
        val arch = (1 to shape.v1ArchiveFiles).map(k =>
          s".commits_.archive.${k}_1-0-1" -> bytes(rnd, shape.maxFileBytes))
        arch.foreach { case (name, b) => files += ((".hoodie/archived", name, b)) }
        arch.toMap
      } else {
        // manifest_1 lists the first parquets, manifest_2 (the latest, named
        // by _version_) all of them; one more parquet is in no manifest yet
        val parquets = (0 to shape.v2ManifestParquets).map(k =>
          s"${ts(2 * k)}_${ts(2 * k + 1)}_0.parquet" -> bytes(rnd, shape.maxFileBytes))
        val listed = parquets.take(shape.v2ManifestParquets)
        def manifest(ps: Seq[(String, Array[Byte])]): Array[Byte] =
          ps.map { case (nm, b) => s"""{"fileName":"$nm","fileLen":${b.length}}""" }
            .mkString("""{"files":[""", ",", "]}").getBytes(UTF_8)
        val meta = Seq("manifest_1" -> manifest(listed.take(listed.size - 1)),
          "manifest_2" -> manifest(listed), "_version_" -> "2".getBytes(UTF_8))
        (parquets ++ meta).foreach { case (name, b) => files += ((".hoodie/timeline/history", name, b)) }
        (listed ++ meta.drop(1)).toMap
      }
    GenTable(rel, files.result(), active, archived,
      marker = lastComplete.min, manifestVersion = if (v2) 2 else 0)
  }
}
