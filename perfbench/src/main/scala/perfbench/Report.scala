package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext

final case class Tail(value: Double, percentile: Double, samples: Int, beyond: Int)

/** Span, job and counter arithmetic over a finished traced run. */
final class Analysis(rec: Recorder, l: JobListener, sc: SparkContext) {
  org.apache.spark.PerfbenchBus.drain(sc)

  val spans: Seq[Span] = rec.spans.toSeq
  private val children: Map[Int, Seq[Span]] = spans.groupBy(_.parent)
  private val allJobs: Seq[JobRec] = l.jobs.values().asScala.toSeq
  private val jobsBySpan: Map[Int, Seq[JobRec]] = allJobs.groupBy(_.span)

  def named(name: String): Seq[Span] = spans.filter(_.name == name)
  def prefixed(p: String): Seq[Span] = spans.filter(_.name.startsWith(p))
  /** Root spans of the traced ops. */
  val ops: Seq[Span] = spans.filter(_.name.startsWith("op:"))

  def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
  def jobs(s: Span): Seq[JobRec] = subtree(s).flatMap(x => jobsBySpan.getOrElse(x.id, Nil))
  def tasks(s: Span): Long =
    jobs(s).map(j => Option(l.tasksByJob.get(j.jobId)).map(_.get).getOrElse(0L)).sum
  def shuffleBytes(s: Span): Long =
    jobs(s).map(j => Option(l.shuffleBytesByJob.get(j.jobId)).map(_.get).getOrElse(0L)).sum

  /** Milliseconds of `s` covered by at least one of its jobs. */
  def inJobMs(s: Span): Double = {
    val lo = s.start / 1e6
    val hi = s.end / 1e6
    Analysis.unionMs(jobs(s).map(j => (math.max(j.startMs.toDouble, lo), math.min(j.endMs.toDouble, hi))))
  }
  def driverMs(s: Span): Double = math.max(0.0, s.ms - inJobMs(s))

  /** Span time not covered by its child spans. */
  def selfMs(s: Span): Double =
    s.ms - Analysis.unionMs(children.getOrElse(s.id, Nil).map(c => (c.start / 1e6, c.end / 1e6)))

  /** Jobs that ran inside a traced op but carry no span (e.g. launched
    * from a thread that did not inherit the caller's properties). */
  def unattributedJobs: Int = allJobs.count(j => j.span < 0 &&
    ops.exists(o => j.startMs >= o.start / 1e6 - 1 && j.startMs <= o.end / 1e6 + 1))

  /** Tracer time: span bookkeeping plus listener callbacks, in ms. */
  def tracerMs: Double = (rec.tracerNs + l.busyNs.get) / 1e6

  /** Per-call statistics over `ss`; NaN when `ss` is empty (not measured). */
  def p50(ss: Seq[Span]): Double = Main.median(ss.map(_.ms))
  def mean(ss: Seq[Span])(f: Span => Double): Double =
    if (ss.isEmpty) Double.NaN else ss.map(f).sum / ss.size
  def perCall(ss: Seq[Span], key: String): Double = mean(ss)(_.extra.getOrElse(key, 0.0))
  def extra(ss: Seq[Span], key: String): Double = ss.map(_.extra.getOrElse(key, 0.0)).sum

  /** Standard per-call breakdown of one layer's spans. */
  def layer(prefix: String, ss: Seq[Span]): Seq[Metric] = Seq(
    Metric(s"$prefix.driver_ms", mean(ss)(driverMs), "ms"),
    Metric(s"$prefix.in_job_ms", mean(ss)(inJobMs), "ms"),
    Metric(s"$prefix.jobs", mean(ss)(jobs(_).size.toDouble), "count"))
}

object Analysis {
  def unionMs(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curLo = Double.NaN
    var curHi = Double.NaN
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (lo, hi) =>
      if (curLo.isNaN || lo > curHi) {
        if (!curLo.isNaN) total += curHi - curLo
        curLo = lo; curHi = hi
      } else curHi = math.max(curHi, hi)
    }
    if (!curLo.isNaN) total += curHi - curLo
    total
  }

  /** Latency at the highest percentile with at least ten samples beyond
    * it. Below 21 samples that percentile is not above the median; the
    * maximum (the slowest op of the cycle) is reported then. */
  def tail(xs: Seq[Double]): Tail = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Tail(0.0, 100.0, 0, 0)
    else if (n < 21) Tail(s.last, 100.0, n, 0)
    else Tail(s(n - 11), 100.0 * (n - 10) / n, n, 10)
  }
}

/** The per-layer metric list (the `per_layer` section of BENCHMARK.json).
  * A workload measures every metric of the layers it exercises. The result
  * line of a traced run carries every name of the list, so the metrics of
  * the layers it does not exercise read 0; the run record names them. */
object Layers {
  private def ms(n: String) = n -> "ms"
  private def cnt(n: String) = n -> "count"
  private def bytes(n: String) = n -> "bytes"
  private def ratio(n: String) = n -> "ratio"
  private def std(p: String) = Seq(ms(s"$p.driver_ms"), ms(s"$p.in_job_ms"), cnt(s"$p.jobs"))
  private def view(p: String) = Seq(ms(s"$p.refresh.p50_ms")) ++ std(p) ++
    Seq(cnt(s"$p.commits"), bytes(s"$p.bytes_written"))
  private def maint(p: String, op: String, removed: String) = Seq(ms(s"$p.$op.ms"),
    bytes(s"$p.bytes_rewritten"), cnt(s"$p.$removed"))

  val all: Seq[(String, String)] =
    Seq(ms("core.AppendOp.p50_ms")) ++ std("core.AppendOp") ++ Seq(
      cnt("core.AppendOp.fs_creates"), cnt("core.AppendOp.fs_renames"),
      cnt("core.AppendOp.fs_deletes"), bytes("core.AppendOp.bytes_written")) ++
    Seq("upsert", "delete", "update", "merge").map(k => ms(s"core.DmlOps.$k.p50_ms")) ++
    std("core.DmlOps") ++ Seq(cnt("core.DmlOps.fs_renames"), bytes("core.DmlOps.bytes_written"),
      cnt("core.DmlOps.dv_files_added"), cnt("core.DmlOps.files_rewritten")) ++
    Seq(bytes("core.Storage.metadata_bytes_per_commit"), ms("core.Storage.load_ms"),
      ms("core.Storage.versions_ms")) ++
    Seq(ms("core.ReadOp.plan_ms"), ratio("core.ReadOp.files_kept_frac"),
      ratio("core.ReadOp.manifests_kept_frac"), ms("core.ReadOp.read.p50_ms"),
      ratio("core.ReadOp.rows_returned_frac"), cnt("core.ReadOp.jobs"),
      bytes("core.ReadOp.bytes_read")) ++
    Seq(ms("core.RandomAccess.open_ms"), ms("core.RandomAccess.batch.p50_ms"),
      ratio("core.RandomAccess.bytes_read_per_payload_byte"),
      cnt("core.BloomPruning.footer_opens_per_lookup")) ++
    maint("core.CompactOp", "compact", "files_removed") ++
    maint("core.RewriteManifestsOp", "rewriteManifests", "manifests_removed") ++
    Seq(ms("core.GcOps.expireSnapshots.ms"), ms("core.GcOps.garbageCollect.ms"),
      cnt("core.GcOps.files_removed"), ms("maintenance.next_op_stall_ms")) ++
    view("views.MaterializedView") ++ view("views.AggregateView") ++
    Seq(cnt("views.AggregateView.recomputed_groups")) ++ view("views.JoinView") ++
    Seq(ms("operators.Semantics.p50_ms"), cnt("operators.Semantics.jobs"),
      bytes("operators.Semantics.shuffle_bytes"),
      ms("operators.Dedup.p50_ms"), cnt("operators.Dedup.jobs"),
      bytes("operators.Dedup.shuffle_bytes"), cnt("operators.Dedup.pairs")) ++
    Seq(cnt("spark.jobs_per_op"), cnt("spark.tasks_per_op"), ratio("spark.in_job_frac"),
      cnt("spark.unattributed_jobs_per_op"), ratio("trace.overhead_frac"))

  /** Mean extra latency of the first op after the maintenance pass whose
    * last span is `pass`, over the median of the other ops of its kind;
    * NaN when no op has both. */
  def stall(rec: Recorder, pass: String): Double = {
    val (after, rest) = rec.ops.toSeq.partition(_.after.isDefined)
    val base = rest.groupBy(_.kind).map { case (k, v) => k -> Main.median(v.map(_.ms)) }
    val xs = after.filter(o => o.after.contains(pass) && base.contains(o.kind))
    if (xs.isEmpty) Double.NaN else xs.map(o => o.ms - base(o.kind)).sum / xs.size
  }

  /** The workload's layer metrics plus the cross-cutting ones, in the
    * canonical order, every name present; and the names the workload does
    * not exercise. */
  def complete(own: Seq[Metric], a: Analysis): (Seq[Metric], Seq[String]) = {
    val units = all.toMap
    own.foreach { m =>
      require(units.get(m.name).contains(m.unit),
        s"layer metric ${m.name} (${m.unit}) is not in the per-layer list")
      require(java.lang.Double.isFinite(m.value), s"layer metric ${m.name} was not measured")
    }
    val n = math.max(1, a.ops.size).toDouble
    val common = Seq(
      Metric("spark.jobs_per_op", a.ops.map(a.jobs(_).size).sum / n, "count"),
      Metric("spark.tasks_per_op", a.ops.map(a.tasks).sum / n, "count"),
      Metric("spark.in_job_frac",
        if (a.ops.isEmpty) 0.0 else a.ops.map(a.inJobMs).sum / a.ops.map(_.ms).sum, "ratio"),
      Metric("spark.unattributed_jobs_per_op", a.unattributedJobs / n, "count"),
      Metric("trace.overhead_frac", a.tracerMs / math.max(1e-9, a.ops.map(_.ms).sum), "ratio"))
    val got = (own ++ common).map(m => m.name -> m).toMap
    (all.map { case (name, unit) => got.getOrElse(name, Metric(name, 0.0, unit)) },
      all.map(_._1).filterNot(got.contains))
  }
}
