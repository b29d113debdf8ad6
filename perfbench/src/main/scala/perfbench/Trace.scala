package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Local filesystem that counts the calls the engine makes through Hadoop.
  * Installed with `fs.file.impl` in traced runs only. It adds no behaviour:
  * the engine branches on the URI scheme, which stays `file`. Counting is
  * switched on and off per traced op through [[CountingFs.on]].
  *
  * Not seen here: the metadata commit's entrypoint swap and its lock file,
  * which the engine does with `java.nio` directly. Those are counted by
  * table-directory diff (see [[DirDiff]]). */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    if (on) creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    if (on) creates.incrementAndGet()
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    if (on) renames.incrementAndGet()
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    if (on) deletes.incrementAndGet()
    super.delete(f, recursive)
  }
}

object CountingFs {
  @volatile var on: Boolean = false
  val creates = new AtomicLong
  val renames = new AtomicLong
  val deletes = new AtomicLong
}

/** Byte counters every Hadoop `file://` filesystem keeps (always on, in
  * both modes): everything the engine reads and writes through Hadoop,
  * driver and executors alike, since `local[n]` runs them in one JVM. */
object HadoopBytes {
  private def stats = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    .filter(_.getScheme == "file")
  def written: Long = stats.map(_.getBytesWritten).sum
  def read: Long = stats.map(_.getBytesRead).sum
}

/** Counter snapshot taken at a span boundary. */
final case class Counters(creates: Long, renames: Long, deletes: Long,
    bytesWritten: Long, bytesRead: Long) {
  def -(o: Counters): Counters = Counters(creates - o.creates, renames - o.renames,
    deletes - o.deletes, bytesWritten - o.bytesWritten, bytesRead - o.bytesRead)
}

object Counters {
  def now(): Counters = Counters(CountingFs.creates.get, CountingFs.renames.get,
    CountingFs.deletes.get, HadoopBytes.written, HadoopBytes.read)
}

/** `/proc/self/io` (Linux); empty where the file is unreadable. */
object ProcIo {
  def read(): Map[String, Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/self/io")
      try src.getLines().flatMap { l =>
        l.split(":\\s*") match {
          case Array(k, v) => scala.util.Try(k -> v.trim.toLong).toOption
          case _ => None
        }
      }.toMap finally src.close()
    } catch { case _: Exception => Map.empty }
}

/** One traced interval. Times are epoch nanoseconds (`Clock`). */
final class Span(val id: Int, val parent: Int, val op: Int, val name: String, val start: Long,
    val startCounters: Counters) {
  var end: Long = 0L
  var counters: Counters = Counters(0, 0, 0, 0, 0)
  /** Workload-supplied counts taken at this boundary (commits, files…). */
  val extra: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def ms: Double = (end - start) / 1e6
}

object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  /** Epoch nanoseconds, monotonic within the run. */
  def nowNs(): Long = baseMs * 1000000L + (System.nanoTime() - baseNs)
}

final case class JobRec(jobId: Int, span: Int, startMs: Long, var endMs: Long)

/** Spark jobs, tasks, in-job time and shuffle bytes, keyed by the span that
  * launched each job. Attribution rides on a Spark local property set at
  * span entry; jobs without it are counted as unattributed. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val tasksByJob = new ConcurrentHashMap[Int, AtomicLong]()
  val shuffleBytesByJob = new ConcurrentHashMap[Int, AtomicLong]()
  /** Nanoseconds spent in this listener's callbacks (Spark's bus thread). */
  val busyNs = new AtomicLong

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    busyNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(JobListener.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    e.stageInfos.foreach(s => stageJob.putIfAbsent(s.stageId, e.jobId))
    jobs.put(e.jobId, JobRec(e.jobId, span, e.time, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val job = stageJob.getOrDefault(e.stageId, -1)
    if (job >= 0) {
      tasksByJob.computeIfAbsent(job, _ => new AtomicLong).incrementAndGet()
      val m = e.taskMetrics
      if (m != null)
        shuffleBytesByJob.computeIfAbsent(job, _ => new AtomicLong)
          .addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }
}

object JobListener {
  val SpanKey = "perfbench.span"
}

/** Op timer and, in traced runs, span recorder. One client thread.
  *
  * Untraced runs time ops only. Traced runs trace every op and maintenance
  * pass (spans, counters, job attribution) and account the time the tracer
  * itself spends, on the client thread and in the listener. */
final class Recorder(val traced: Boolean, sc: SparkContext) {
  /** `after`: the maintenance pass this op directly followed, if any. */
  final case class OpSample(kind: String, ms: Double, ok: Boolean, after: Option[String])

  val ops = mutable.ArrayBuffer.empty[OpSample]
  val spans = mutable.ArrayBuffer.empty[Span]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  var rows = 0L
  private var pendingMaintenance: Option[String] = None

  private var opCount = 0
  private var tracingOp = false
  private val stack = mutable.Stack.empty[Span]
  private var nextId = 0

  /** Nanoseconds the tracer spent on the client thread inside traced ops. */
  var tracerNs = 0L

  /** Time one measured op. A thrown exception or a failed check counts as a
    * failed op; the run goes on. `rows` is read after the op. */
  def op(kind: String, rows: => Long)(body: => Boolean): Unit = {
    opCount += 1
    tracingOp = traced
    attempted += 1
    val t0 = System.nanoTime()
    val ok = guarded(kind)(if (tracingOp) span("op:" + kind)(body) else body)
    val ms = (System.nanoTime() - t0) / 1e6
    tracingOp = false
    if (ok) this.rows += rows
    ops += OpSample(kind, ms, ok, pendingMaintenance)
    pendingMaintenance = None
  }

  /** A maintenance pass: counted in wall time, not in op latencies. */
  def maintenance[A](kind: String)(body: => A): A = {
    tracingOp = traced
    try span(kind)(body)
    finally {
      tracingOp = false
      pendingMaintenance = Some(kind)
    }
  }

  /** A named check outside the measured ops (end of run, reopen). */
  def check(name: String)(body: => Boolean): Boolean = {
    attempted += 1
    guarded(name)(body)
  }

  /** Run `body`; an exception or a `false` result counts one failure. */
  private def guarded(name: String)(body: => Boolean): Boolean = {
    val ok = try {
      val r = body
      if (!r) failures += s"$name: output check failed"
      r
    } catch {
      case e: Exception =>
        failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        false
    }
    if (!ok) failed += 1
    ok
  }

  /** A layer boundary. A no-op unless the current op is traced. */
  def span[A](name: String)(body: => A): A =
    if (!tracingOp) body
    else {
      val t0 = System.nanoTime()
      val parent = stack.headOption
      val s = new Span(nextId, parent.map(_.id).getOrElse(-1),
        parent.map(_.op).getOrElse(opCount), name, Clock.nowNs(), Counters.now())
      nextId += 1
      spans += s
      stack.push(s)
      CountingFs.on = true
      sc.setLocalProperty(JobListener.SpanKey, s.id.toString)
      tracerNs += System.nanoTime() - t0
      try body
      finally {
        val t1 = System.nanoTime()
        s.end = Clock.nowNs()
        s.counters = Counters.now() - s.startCounters
        stack.pop()
        sc.setLocalProperty(JobListener.SpanKey, stack.headOption.map(_.id.toString).orNull)
        if (stack.isEmpty) CountingFs.on = false
        tracerNs += System.nanoTime() - t1
      }
    }

  /** Attach a workload count to the innermost open span, if tracing. */
  def note(key: String, v: Double): Unit =
    stack.headOption.foreach(s => s.extra(key) = s.extra.getOrElse(key, 0.0) + v)

  /** Attach a count to a finished span (the last one with this name). */
  def noteLast(name: String, key: String, v: Double): Unit =
    spans.reverseIterator.find(_.name == name).foreach(s =>
      s.extra(key) = s.extra.getOrElse(key, 0.0) + v)
}

/** Files and sizes under a table's `metadata/` directory, subdirectories
  * (the change log in `metadata/changes/`) included, keyed by their path
  * relative to it; the diff of two listings counts what a commit wrote
  * there, the `java.nio` steps included. */
object DirDiff {
  def list(tableDir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(tableDir, "metadata")
    if (!java.nio.file.Files.isDirectory(root)) Map.empty
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => root.relativize(f).toString -> java.nio.file.Files.size(f)).toMap
      finally s.close()
    }
  }

  /** Total bytes of files under `dir` (recursive). */
  def bytes(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size(_)).sum
      finally s.close()
    }
  }
}
