package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Extraction, Formats, JDouble, JNull}
import org.json4s.jackson.JsonMethods

/** What a workload sees: the session, the recorder, and its seeded RNG. */
final class Ctx(val spark: SparkSession, val rec: Recorder, val seed: Long, val scale: Double) {
  /** A fresh RNG per purpose, so one input stream never shifts another. */
  def rng(salt: Long): scala.util.Random = new scala.util.Random(seed * 1000003L + salt)
  /** `n` scaled by `--scale` (the self-test runs at a small scale). */
  def scaled(n: Int): Int = math.max(1, math.round(n * scale).toInt)
}

/** One benchmark workload. An instance owns its tables and its model of
  * what they must hold. */
trait Workload {
  /** Create and fill the tables under `dir` (set-up, not measured). */
  def seed(ctx: Ctx, dir: String): Unit
  /** Run each op kind once, unmeasured, so the measured ops start warm. */
  def warmup(ctx: Ctx): Unit
  /** One step of the measured phase: an op or a maintenance pass. */
  def step(ctx: Ctx, i: Int): Unit
  /** Steps per cycle of the op mix; the measured phase runs whole cycles. */
  def cycle: Int
  /** Compare the tables with the model. `reopened` = through fresh handles. */
  def checks(ctx: Ctx, reopened: Boolean): Unit
  def tableDirs: Seq[String]
  /** Logical bytes of user input committed (set-up and measured phase). */
  def inputBytes: Long
  /** Logical bytes of the rows the tables hold now, per the model. */
  def liveBytes: Long
  /** Per-layer metrics this workload exercises (traced runs). */
  def layerMetrics(ctx: Ctx, a: Analysis): Seq[Metric]
  /** Workload facts for the run record. */
  def notes: Map[String, Any] = Map.empty
}

final case class Metric(name: String, value: Double, unit: String)

object Main {
  val Workloads: Map[String, () => Workload] = Map(
    "ingest_refresh" -> (() => new IngestRefresh),
    "scan_serve" -> (() => new ScanServe))

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (args.contains("classlist")) { classList(args("work")); return }
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args.getOrElse("trace", "0") == "1"
    val scale = args.getOrElse("scale", "1").toDouble
    val workRoot = args("work")
    val outFile = args("out")
    val factory = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))

    val meta = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "scale" -> scale, "nproc" -> Runtime.getRuntime.availableProcessors(),
      // "sharing" here: the JVM maps class-data-sharing archives
      "java_vm_info" -> System.getProperty("java.vm.info"),
      "load_avg_before" -> loadAvg(), "host_probe_before_ms" -> hostProbe(workRoot))

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Session.build(workRoot, traced)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val listener = if (traced) Some(new JobListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)

    var exitCode = 0
    try {
      // set-up: seed the tables, then run each op kind once unmeasured
      val scratch = new Ctx(spark, new Recorder(false, spark.sparkContext), seed, scale)
      val w = factory()
      val writtenBeforeSeed = HadoopBytes.written
      val seedS = timeS(w.seed(scratch, s"$workRoot/tables"))
      val warmupS = timeS(w.warmup(scratch))
      require(scratch.rec.failed == 0, s"set-up failed: ${scratch.rec.failures.mkString("; ")}")
      val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0

      val rec = new Recorder(traced, spark.sparkContext)
      val ctx = new Ctx(spark, rec, seed, scale)
      val t0 = System.nanoTime()
      val deadline = t0 + (seconds * 1e9).toLong
      var i = 0
      // whole cycles until `seconds` have passed: every run measures the
      // same mix of op kinds, whatever its inputs
      while (System.nanoTime() < deadline || i % w.cycle != 0) { w.step(ctx, i); i += 1 }
      val wallS = (System.nanoTime() - t0) / 1e9
      val bytesWritten = HadoopBytes.written - writtenBeforeSeed
      val heapMb = retainedHeapMb()

      val checksS = timeS {
        w.checks(ctx, reopened = false)
        w.checks(ctx, reopened = true)
      }
      val spaceBytes = w.tableDirs.map(DirDiff.bytes).sum

      val measured = rec.ops.map(_.ms).toSeq
      val tail = Analysis.tail(measured)
      val endToEnd = Seq(
        Metric("setup_s", setupS, "s"),
        Metric("op_p50_ms", median(measured), "ms"),
        Metric("op_tail_ms", tail.value, "ms"),
        Metric("ops_per_s", rec.ops.count(_.ok) / wallS, "1/s"),
        Metric("rows_per_s", rec.rows / wallS, "rows/s"),
        Metric("write_amp", bytesWritten.toDouble / w.inputBytes, "ratio"),
        Metric("space_amp", spaceBytes.toDouble / w.liveBytes, "ratio"),
        Metric("retained_heap_mb", heapMb, "MB"))

      endToEnd.foreach(m => require(java.lang.Double.isFinite(m.value), s"${m.name} was not measured"))
      val analysis = listener.map(new Analysis(rec, _, spark.sparkContext))
      val (metrics, notExercised) = analysis match {
        case None => (endToEnd, Nil)
        case Some(a) => Layers.complete(w.layerMetrics(ctx, a), a)
      }

      meta ++= Seq(
        "setup_parts_s" -> Map("session" -> sessionS, "seed" -> seedS, "warmup" -> warmupS),
        "measured_wall_s" -> wallS, "checks_s" -> checksS, "steps" -> i, "ops" -> rec.ops.size,
        "op_ms_by_kind" -> rec.ops.groupBy(_.kind).map { case (k, v) =>
          k -> Map("n" -> v.size, "p50" -> median(v.map(_.ms).toSeq)) },
        "op_tail" -> Map("percentile" -> tail.percentile, "samples" -> tail.samples,
          "beyond" -> tail.beyond),
        "failures" -> rec.failures.toSeq,
        "end_to_end" -> endToEnd.map(m => m.name -> m.value).toMap,
        "bytes_written" -> bytesWritten, "input_bytes" -> w.inputBytes,
        "space_bytes" -> spaceBytes, "live_bytes" -> w.liveBytes,
        "not_counted" -> Seq(
          "entrypoint swap per commit (java.nio move): not in fs_renames",
          "commit lock create/delete (java.nio): not in fs_creates/fs_deletes"),
        "proc_self_io" -> ProcIo.read(), "workload_notes" -> w.notes)
      if (traced) meta += "per_layer_not_exercised" -> notExercised
      analysis.foreach(a => meta += "spans" -> a.spans.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end, "self_ms" -> a.selfMs(s),
        "jobs" -> a.jobs(s).size, "in_job_ms" -> a.inJobMs(s),
        "creates" -> s.counters.creates, "renames" -> s.counters.renames,
        "deletes" -> s.counters.deletes, "bytes_written" -> s.counters.bytesWritten,
        "bytes_read" -> s.counters.bytesRead) ++ s.extra))

      val correct = rec.failed == 0
      if (!correct) exitCode = 1
      meta ++= Seq("load_avg_after" -> loadAvg(), "host_probe_after_ms" -> hostProbe(workRoot))
      val out = java.nio.file.Paths.get(outFile)
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out, Json.render(meta))
      metrics.foreach(m => System.err.println(f"[perfbench] ${m.name}%-48s ${m.value}%14.4f ${m.unit}"))
      System.err.println(s"[perfbench] op_tail_ms is p${tail.percentile} of ${tail.samples} " +
        s"ops (${tail.beyond} beyond)")
      rec.failures.take(10).foreach(f => System.err.println(s"[perfbench] FAIL $f"))
      println(Json.render(Map(
        "correct" -> correct, "attempted" -> rec.attempted, "failed" -> rec.failed,
        "metrics" -> metrics.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit))
          .toMap)))
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] aborted: $e")
        e.printStackTrace()
        exitCode = 2
    } finally {
      spark.stop()
    }
    System.out.flush()
    sys.exit(exitCode)
  }

  /** Seed every workload at a tiny scale and exit: the run that records
    * the class-data-sharing archive later runs start from (it holds the
    * classes of JVM, session and set-up start, so only their loading time
    * changes). */
  private def classList(workRoot: String): Unit = {
    val spark = Session.build(workRoot, traced = false)
    try Workloads.foreach { case (name, make) =>
      make().seed(new Ctx(spark, new Recorder(false, spark.sparkContext), 1L, 0.05),
        s"$workRoot/$name")
    } finally spark.stop()
  }

  private def timeS(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** NaN when `xs` is empty: nothing was measured. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Heap used after full GCs, repeated until it stops falling: Spark's
    * context cleaner frees broadcast and shuffle state only after a GC has
    * found its owners unreachable, so one GC can leave it behind. */
  private def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def used(): Double = {
      System.gc()
      Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    var last = used()
    var next = used()
    var rounds = 2
    while (next < last - 1.0 && rounds < 6) { last = next; next = used(); rounds += 1 }
    math.min(last, next)
  }

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** 3 × (write 8 MiB, fsync, read back) in the work directory: (min, max)
    * ms. Taken before and after the run, so a host with writeback stalls
    * shows in the run's record. */
  private def hostProbe(dir: String): Seq[Double] = {
    val d = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(d)
    val buf = new Array[Byte](8 * 1024 * 1024)
    new java.util.Random(42).nextBytes(buf)
    val times = (1 to 3).map { _ =>
      val f = java.nio.file.Files.createTempFile(d, "probe_", ".bin")
      try {
        val t0 = System.nanoTime()
        val ch = java.nio.channels.FileChannel.open(f, java.nio.file.StandardOpenOption.WRITE)
        try { ch.write(java.nio.ByteBuffer.wrap(buf)); ch.force(true) } finally ch.close()
        require(java.nio.file.Files.readAllBytes(f).length == buf.length)
        (System.nanoTime() - t0) / 1e6
      } finally java.nio.file.Files.deleteIfExists(f)
    }
    Seq(times.min, times.max)
  }
}

object Session {
  def build(workRoot: String, traced: Boolean): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val b = SparkSession.builder()
      .master(s"local[$n]")
      .appName("spacespark-perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workRoot/spark-local")
      // Spark's own job/SQL history for its UI store is kept short, so
      // retained_heap_mb shows the engine's driver state, not Spark's
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.warehouse.dir", s"$workRoot/warehouse")
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (traced) {
      // a `file` filesystem cached before the session conf applied would
      // bypass the counter: drop it so the next lookup builds ours
      val uri = new java.net.URI("file:///")
      val conf = spark.sparkContext.hadoopConfiguration
      if (!org.apache.hadoop.fs.FileSystem.get(uri, conf).isInstanceOf[CountingFs]) {
        org.apache.hadoop.fs.FileSystem.closeAll()
        require(org.apache.hadoop.fs.FileSystem.get(uri, conf).isInstanceOf[CountingFs],
          "counting filesystem not installed")
      }
    }
    spark
  }
}

object Json {
  private implicit val formats: Formats = DefaultFormats

  /** Compact JSON of maps, sequences, options and primitives. A NaN or
    * infinite double is not a JSON number and becomes null. */
  def render(v: Any): String =
    JsonMethods.compact(JsonMethods.render(Extraction.decompose(v).transform {
      case JDouble(d) if d.isNaN || d.isInfinite => JNull
    }))
}
