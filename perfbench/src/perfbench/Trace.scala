package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed interval: a call the benchmark made into a layer, a Spark job
  * seen by the listener, or a per-table window derived from storage calls.
  * Times are `System.nanoTime` values; `op` groups the spans of one op.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder. Spans are always timed (the metrics need the
  * durations in both modes) but only kept when tracing is on; the kept
  * spans are written out once, at exit.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[Span]

  def newId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (enabled) spans.add(s)

  /** Run `body` as a child of the calling thread's open span. */
  def span[T](name: String, op: Long = 0)(body: => T): (T, Span) = {
    val parent = current.get()
    val open = Span(newId(), if (parent == null) 0 else parent.id,
      if (op != 0 || parent == null) op else parent.op, name, System.nanoTime(), 0)
    current.set(open)
    val r = try body finally current.set(parent)
    val s = open.copy(end = System.nanoTime())
    add(s)
    (r, s)
  }

  def all: Seq[Span] = spans.toArray(Array.empty[Span]).toSeq

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Counters behind [[CountingRawFs]]. The filesystem instance is created by
  * Hadoop through reflection, so the counters are global; the benchmark
  * snapshots them around each op. Every call is counted; only the
  * outermost call on a thread is timed, so nested calls (a `create` that
  * makes its parent directories) are not timed twice.
  */
object FsStats {
  val Ops: Vector[String] = Vector("create", "mkdirs", "set_permission", "rename",
    "delete", "exists", "get_file_status", "list_status", "open")
  val Roots: Vector[String] = Vector("lake", "mirror", "checkpoint", "store", "other")
  private val Other = Roots.indexOf("other")

  private val counts = new AtomicLongArray(Ops.size * Roots.size)
  private val nanos = new AtomicLongArray(Roots.size)
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  /** Path prefix -> root index, longest first. */
  @volatile private var prefixes: Vector[(String, Int)] = Vector.empty
  /** Per-table [first start, last end] of storage calls, keyed by the
    * lake-relative table dir ("db3/tbl0042") or "id:<tableId>" for the
    * mirror and checkpoint roots. Null when not recording.
    */
  @volatile private var windows: ConcurrentHashMap[String, Array[Long]] = null

  def setRoots(roots: Seq[(String, String)]): Unit =
    prefixes = roots.map { case (p, r) => (p.stripSuffix("/") + "/", Roots.indexOf(r)) }
      .toVector.sortBy(-_._1.length)

  def recordTables(on: Boolean): Unit =
    windows = if (on) new ConcurrentHashMap[String, Array[Long]]() else null

  def tableWindows: Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    Option(windows).map(_.asScala.map { case (k, v) => k -> (v(0), v(1)) }.toMap)
      .getOrElse(Map.empty)
  }

  final case class Snapshot(counts: Vector[Long], nanos: Vector[Long]) {
    def -(o: Snapshot): Snapshot = Snapshot(
      counts.zip(o.counts).map { case (a, b) => a - b },
      nanos.zip(o.nanos).map { case (a, b) => a - b })
    def count(op: String): Long =
      Roots.indices.map(r => counts(Ops.indexOf(op) * Roots.size + r)).sum
    def total: Long = counts.sum
    def seconds(root: String): Double = nanos(Roots.indexOf(root)) / 1e9
  }

  def snapshot(): Snapshot = Snapshot(
    Vector.tabulate(counts.length())(counts.get),
    Vector.tabulate(nanos.length())(nanos.get))

  private def classify(p: Path): (Int, String) = {
    val s = p.toUri.getPath
    prefixes.find { case (pre, _) => s.startsWith(pre) } match {
      case None => (Other, null)
      case Some((pre, root)) =>
        val parts = s.substring(pre.length).split("/")
        val key = Roots(root) match {
          // only timeline calls: discovery's listing of the table dir
          // itself happens before the table's sync starts
          case "lake" if parts.length >= 3 && parts(2).startsWith(".hoodie") =>
            parts(0) + "/" + parts(1)
          case "mirror" | "checkpoint" if parts.length >= 2 => "id:" + parts(0)
          case _ => null
        }
        (root, key)
    }
  }

  def call[T](op: String, p: Path)(body: => T): T = {
    val (root, key) = if (p == null) (Other, null) else classify(p)
    counts.incrementAndGet(Ops.indexOf(op) * Roots.size + root)
    val d = depth.get()
    depth.set(d + 1)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      depth.set(d)
      if (d == 0) {
        nanos.addAndGet(root, t1 - t0)
        val w = windows
        if (w != null && key != null)
          w.merge(key, Array(t0, t1), (a, b) => Array(math.min(a(0), b(0)), math.max(a(1), b(1))))
      }
    }
  }
}

/** The local filesystem with every storage call counted and timed. It sits
  * below [[LocalFileSystem]]'s checksum layer, so the `setPermission`
  * calls that `ChecksumFileSystem.create` makes for each data file and its
  * `.crc` sidecar are counted too.
  */
class CountingRawFs extends RawLocalFileSystem {
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    FsStats.call("create", f)(super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    FsStats.call("create", f)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    FsStats.call("create", f)(super.createNonRecursive(f, permission, overwrite,
      bufferSize, replication, blockSize, progress))
  override def mkdirs(f: Path): Boolean = FsStats.call("mkdirs", f)(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    FsStats.call("mkdirs", f)(super.mkdirs(f, permission))
  override def setPermission(p: Path, permission: FsPermission): Unit =
    FsStats.call("set_permission", p)(super.setPermission(p, permission))
  override def rename(src: Path, dst: Path): Boolean =
    FsStats.call("rename", src)(super.rename(src, dst))
  override def delete(p: Path, recursive: Boolean): Boolean =
    FsStats.call("delete", p)(super.delete(p, recursive))
  override def exists(f: Path): Boolean = FsStats.call("exists", f)(super.exists(f))
  override def getFileStatus(f: Path): FileStatus =
    FsStats.call("get_file_status", f)(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] =
    FsStats.call("list_status", f)(super.listStatus(f))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    FsStats.call("open", f)(super.open(f, bufferSize))
}

/** `fs.file.impl` for traced runs: the stock checksummed local filesystem
  * over [[CountingRawFs]].
  */
class CountingLocalFs extends LocalFileSystem(new CountingRawFs)

/** Spark work seen through a listener: jobs, stages, tasks, task time,
  * time tasks waited for a core after their stage was submitted, GC,
  * shuffle and spill bytes, and each job's interval.
  */
final class SparkStats extends SparkListener {
  private val c = new AtomicLongArray(SparkStats.Keys.size)
  private def add(k: String, v: Long): Unit = c.addAndGet(SparkStats.Keys.indexOf(k), v)
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  /** (start ms, end ms) of finished jobs, epoch time. */
  val jobWindows = new ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStart.put(e.jobId, e.time); add("jobs", 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(s => jobWindows.add((s.longValue, e.time)))
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    Option(stageSubmit.get(e.stageId)).foreach(s =>
      add("task_wait_ms", math.max(0L, e.taskInfo.launchTime - s.longValue)))
    val m = e.taskMetrics
    if (m != null) {
      add("task_ms", m.executorRunTime)
      add("gc_ms", m.jvmGCTime)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Totals so far, after every queued event has been delivered. */
  def snapshot(spark: SparkSession): Map[String, Long] = {
    SparkStats.drain(spark)
    SparkStats.Keys.zipWithIndex.map { case (k, i) => k -> c.get(i) }.toMap
  }
}

object SparkStats {
  val Keys: Vector[String] = Vector("jobs", "stages", "tasks", "task_ms", "task_wait_ms",
    "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")

  def delta(after: Map[String, Long], before: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }

  /** Wait until the listener bus has delivered every posted event.
    * `listenerBus` is private[spark] to scalac but public in bytecode.
    */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
