package graft.operators

import java.io.IOException
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path}

/** The one writer of sync outputs: mirrored timeline files
  * ([[TimelineMirror]]) and checkpoint JSON ([[CheckpointStore]]).
  *
  * Sources are always read through Hadoop (`src.getFileSystem(conf).open`),
  * so every scheme and the checksum check on local sources behave as
  * before. The write path is chosen from the destination's filesystem
  * class:
  *
  *   - a [[LocalFileSystem]] destination is written with `java.nio`.
  *     Hadoop's local `create` sets permissions on the data file and on its
  *     `.crc` sidecar, and without the native library each of those forks a
  *     `chmod` process; the nio path forks none and writes no sidecar. A
  *     sidecar left by an earlier Hadoop write is deleted first, or a later
  *     Hadoop `open` would check the new bytes against the old checksum;
  *   - any other destination (object stores, HDFS) goes through its own
  *     `FileSystem`: `create(dst, overwrite = true)`, then the bytes.
  */
object SinkIO {

  /** Copy `src` over `dst`. The destination directory must exist
    * ([[mkdirs]]); callers create it once per directory, not per file.
    */
  def copy(conf: Configuration, src: Path, dst: Path): Unit = {
    val in = src.getFileSystem(conf).open(src)
    try dst.getFileSystem(conf) match {
      case lfs: LocalFileSystem =>
        val target = local(lfs, dst)
        dropChecksum(target)
        Files.copy(in, target, StandardCopyOption.REPLACE_EXISTING)
      case fs =>
        val out = fs.create(dst, true)
        try in.transferTo(out) finally out.close()
    } finally in.close()
  }

  /** Replace `dst` with `bytes` so that a reader sees the old content or the
    * new, never a truncated file: write a `.<name>.staging` sibling, then
    * move it over `dst`. Locally the move is one atomic replace. Elsewhere
    * it is delete-then-rename (object stores have no atomic replace), and a
    * failed rename throws instead of leaving `dst` missing unnoticed.
    */
  def publish(conf: Configuration, dst: Path, bytes: Array[Byte]): Unit = {
    val staging = new Path(dst.getParent, s".${dst.getName}.staging")
    dst.getFileSystem(conf) match {
      case lfs: LocalFileSystem =>
        val target = local(lfs, dst)
        val stage = local(lfs, staging)
        Files.createDirectories(target.getParent)
        Files.write(stage, bytes)
        dropChecksum(target)
        Files.move(stage, target, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      case fs =>
        val out = fs.create(staging, true)
        try out.write(bytes) finally out.close()
        fs.delete(dst, false)
        if (!fs.rename(staging, dst)) throw new IOException(s"rename $staging -> $dst failed")
    }
  }

  /** Create `dir` and its parents. */
  def mkdirs(conf: Configuration, dir: Path): Unit = dir.getFileSystem(conf) match {
    case lfs: LocalFileSystem => Files.createDirectories(local(lfs, dir))
    case fs => if (!fs.mkdirs(dir)) throw new IOException(s"mkdirs $dir failed")
  }

  private def local(lfs: LocalFileSystem, p: Path): java.nio.file.Path =
    lfs.pathToFile(p).toPath

  private def dropChecksum(p: java.nio.file.Path): Unit =
    Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
}
