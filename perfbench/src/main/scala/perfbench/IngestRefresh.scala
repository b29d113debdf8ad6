package perfbench

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.core.SpaceDataset
import graft.views.{AggSpec, AggregateView, JoinView, MaterializedView, View}

/** `ingest_refresh`: the write path, as two table groups in one op stream.
  *
  *  - Ingest: a keyed `events` table with a binary record field takes
  *    appends, Zipf upserts, scattered (merge-on-read) and broad
  *    (copy-on-write) deletes, updates and merges; once per cycle a
  *    maintenance pass runs compaction, manifest rewrite and expiry + GC.
  *  - Views: a `fact` and a `dim` source with a filter/map
  *    `MaterializedView`, an `AggregateView` with min/max (extremum
  *    reservoir) and a full-outer `JoinView` over them. A view op applies a
  *    small source delta and refreshes all three: the time until a source
  *    change is visible in every view. */
final class IngestRefresh extends Workload {
  import IngestRefresh._

  private var base: String = _
  private var events: SpaceDataset = _
  private var fact: SpaceDataset = _
  private var dim: SpaceDataset = _
  private var mv: MaterializedView = _
  private var av: AggregateView = _
  private var jv: JoinView = _
  private var rng: scala.util.Random = _
  private val model = mutable.HashMap.empty[Long, Event]
  private var midModel: Option[Map[Long, Event]] = None
  private val facts = mutable.HashMap.empty[Long, Fact]
  private val dims = mutable.HashMap.empty[Long, Dim]
  private var nextKey = 0L
  private var nextFid = 0L
  private var nextDk = 0L
  private var version = 0L
  private var input = 0L

  private def dir(t: String) = s"$base/$t"
  def tableDirs: Seq[String] = Seq("events", "fact", "dim", "mv", "av", "jv").map(dir)
  def inputBytes: Long = input
  /** Live logical bytes of the three source tables (views are derived data). */
  def liveBytes: Long = model.values.map(_.logicalBytes).sum +
    facts.values.map(_.logicalBytes).sum + dims.values.map(_.logicalBytes).sum
  def cycle: Int = Cycle.size

  private def newEvent(k: Long): Event = {
    version += 1
    Event(rng.nextInt(Groups).toLong, rng.nextInt(1000000) / 1000.0, "t" + rng.nextInt(1000),
      Common.payload(k, version, rng, 32, 160))
  }
  private def newFact(): (Long, Fact) = {
    val fid = nextFid; nextFid += 1
    // facts reference existing dims and dims still to come (unmatched left
    // rows), so the outer join carries both kinds of unmatched row
    val dk = rng.nextInt((nextDk + DimLookahead).toInt).toLong
    fid -> Fact(dk, rng.nextInt(100000).toLong, "n" + rng.nextInt(1000))
  }
  private def newDim(dk: Long): (Long, Dim) =
    dk -> Dim(rng.nextInt(1000000).toLong, "d" + rng.nextInt(1000))

  private def eventFrame(ctx: Ctx, rows: Seq[(Long, Event)]): DataFrame =
    Common.df(ctx.spark, EventSchema, rows.map { case (k, e) => Row(k, e.g, e.v, e.tag, e.payload) })
  private def factFrame(ctx: Ctx, rows: Seq[(Long, Fact)]): DataFrame =
    Common.df(ctx.spark, FactSchema, rows.map { case (k, f) => Row(k, f.dk, f.amt, f.note) })
  private def dimFrame(ctx: Ctx, rows: Seq[(Long, Dim)]): DataFrame =
    Common.df(ctx.spark, DimSchema, rows.map { case (k, d) => Row(k, d.attr, d.name) })

  def seed(ctx: Ctx, root: String): Unit = {
    base = s"$root/ingest"
    rng = ctx.rng(1)
    val spark = ctx.spark
    events = SpaceDataset.create(spark, dir("events"), EventSchema, Seq("k"),
      recordFields = Seq("payload"), statsFields = Seq("k", "g"))
    val rows = (0 until ctx.scaled(SeedRows)).map { _ => val k = nextKey; nextKey += 1; k -> newEvent(k) }
    events.append(eventFrame(ctx, rows))
    rows.foreach { case (k, e) => model(k) = e; input += e.logicalBytes }

    fact = SpaceDataset.create(spark, dir("fact"), FactSchema, Seq("fid"), statsFields = Seq("fid", "dk"))
    dim = SpaceDataset.create(spark, dir("dim"), DimSchema, Seq("dk"), statsFields = Seq("dk"))
    val ds0 = (0 until ctx.scaled(SeedDims)).map { _ => val dk = nextDk; nextDk += 1; newDim(dk) }
    val fs0 = (0 until ctx.scaled(SeedFacts)).map(_ => newFact())
    dim.append(dimFrame(ctx, ds0))
    fact.append(factFrame(ctx, fs0))
    ds0.foreach { case (k, d) => dims(k) = d; input += d.logicalBytes }
    fs0.foreach { case (k, f) => facts(k) = f; input += f.logicalBytes }
    mv = View.ofDataset(fact).filterExpr(MvFilter).selectExprs("fid", "dk", "amt * 2 AS amt2")
      .materialize(spark, dir("mv"), Seq("fid"))
    av = AggregateView.create(spark, dir("av"), fact, Seq("dk"), Seq(
      AggSpec.min("amt", "min_amt"), AggSpec.max("amt", "max_amt"),
      AggSpec.countAll("n"), AggSpec.sum("amt", "total")))
    jv = JoinView.create(spark, dir("jv"), fact, dim, Seq("dk"), Seq("fid", "amt"), Seq("attr"),
      joinType = JoinView.FullOuter)
    mv.refresh(); av.refresh(); jv.refresh()
  }

  /** Each ingest call once and one view op, unmeasured (the broad delete
    * shares the delete path; the other view ops share the refresh paths). */
  def warmup(ctx: Ctx): Unit =
    Seq("append", "upsert", "delete_scattered", "update", "merge", "view:late_facts")
      .foreach(run(ctx, _))

  def step(ctx: Ctx, i: Int): Unit = {
    run(ctx, Cycle(i % Cycle.size))
    if (i == MidTagStep) {
      events.addTag("mid")
      midModel = Some(model.toMap)
    }
  }

  private def liveKeys(n: Int): Seq[Long] = {
    val keys = model.keysIterator.toIndexedSeq
    Seq.fill(n)(keys(rng.nextInt(keys.size))).distinct
  }

  /** One op whose `apply` commits to `ds` inside the layer span and returns
    * the model update to make once it has committed; `after` runs inside
    * the op once the commit is done (the view refreshes). */
  private def commit(ctx: Ctx, kind: String, layer: String, ds: SpaceDataset, rows: Long,
      inBytes: Long, after: () => Unit = () => ())(apply: => (() => Unit)): Unit = {
    val probe = if (ctx.rec.traced) Some(new CommitProbe(ds, ds.location)) else None
    ctx.rec.op(kind, rows) {
      val update = ctx.rec.span(layer)(apply)
      update()
      input += inBytes
      after()
      true
    }
    probe.foreach(_.finish(ctx.rec, layer))
  }

  private def run(ctx: Ctx, kind: String): Unit = kind match {
    case "append" =>
      val rows = (0 until ctx.scaled(120)).map { _ => val k = nextKey; nextKey += 1; k -> newEvent(k) }
      commit(ctx, kind, "core.AppendOp", events, rows.size, rows.map(_._2.logicalBytes).sum) {
        events.append(eventFrame(ctx, rows))
        () => rows.foreach { case (k, e) => model(k) = e }
      }
    case "upsert" =>
      // Zipf over recency: most upserts land on recently appended keys
      val keys = Seq.fill(ctx.scaled(60))(nextKey - Common.zipfRank(rng, nextKey)).distinct
      val rows = keys.map(k => k -> newEvent(k))
      commit(ctx, kind, "core.DmlOps.upsert", events, rows.size, rows.map(_._2.logicalBytes).sum) {
        events.upsert(eventFrame(ctx, rows))
        () => rows.foreach { case (k, e) => model(k) = e }
      }
    case "delete_scattered" =>
      val keys = liveKeys(4)
      commit(ctx, kind, "core.DmlOps.delete", events, keys.size, 0L) {
        events.delete(col("k").isin(keys: _*), dvMaxFraction = Some(ScatteredDvFraction))
        () => keys.foreach(model.remove)
      }
    case "delete_broad" =>
      val g = rng.nextInt(Groups).toLong
      commit(ctx, kind, "core.DmlOps.delete", events, model.count(_._2.g == g), 0L) {
        events.delete(col("g") === g)
        () => model.filterInPlace { case (_, e) => e.g != g }
      }
    case "update" =>
      val g = rng.nextInt(Groups).toLong
      val hit = model.filter { case (k, e) => e.g == g && k % 5 == 0 }
      commit(ctx, kind, "core.DmlOps.update", events, hit.size, hit.values.map(_.logicalBytes).sum) {
        events.update(col("g") === g && col("k") % 5 === 0, Map("v" -> (col("v") + 1.5)))
        () => hit.foreach { case (k, e) => model(k) = e.copy(v = e.v + 1.5) }
      }
    case "merge" =>
      val existing = liveKeys(ctx.scaled(30))
      val deletes = existing.take(math.max(1, existing.size / 6)).toSet
      val fresh = (0 until ctx.scaled(20)).map { _ => val k = nextKey; nextKey += 1; k }
      val rows = (existing ++ fresh).map { k =>
        val e = newEvent(k)
        k -> (if (deletes(k)) e.copy(v = -1.0) else e)
      }
      commit(ctx, kind, "core.DmlOps.merge", events, rows.size, rows.map(_._2.logicalBytes).sum) {
        events.merge(eventFrame(ctx, rows)).whenMatchedDelete(col("v") < 0).whenMatchedUpdate()
          .whenNotMatchedInsert().execute()
        () => rows.foreach { case (k, e) => if (deletes(k)) model.remove(k) else model(k) = e }
      }
    case "maintenance" => maintenance(ctx)
    case "view:late_facts" =>
      val rows = (0 until ctx.scaled(20)).map(_ => newFact())
      viewOp(ctx, kind, "core.AppendOp", fact, rows.size, rows.map(_._2.logicalBytes).sum) {
        fact.append(factFrame(ctx, rows))
        () => rows.foreach { case (k, f) => facts(k) = f }
      }
    case "view:fact_delete" =>
      val keys = facts.keysIterator.toIndexedSeq
      val dead = Seq.fill(5)(keys(rng.nextInt(keys.size))).distinct
      viewOp(ctx, kind, "core.DmlOps.delete", fact, dead.size, 0L) {
        fact.delete(col("fid").isin(dead: _*))
        () => dead.foreach(facts.remove)
      }
    case "view:dim_upsert" =>
      // one dim changes, one new dim arrives
      val keys = dims.keysIterator.toIndexedSeq
      val rows = Seq(newDim(keys(rng.nextInt(keys.size))), { val dk = nextDk; nextDk += 1; newDim(dk) })
      viewOp(ctx, kind, "core.DmlOps.upsert", dim, rows.size, rows.map(_._2.logicalBytes).sum) {
        dim.upsert(dimFrame(ctx, rows))
        () => rows.foreach { case (k, d) => dims(k) = d }
      }
    case "view:dim_delete" =>
      val keys = dims.keysIterator.toIndexedSeq
      val dk = keys(rng.nextInt(keys.size))
      viewOp(ctx, kind, "core.DmlOps.delete", dim, 1L, 0L) {
        dim.delete(col("dk") === dk)
        () => dims.remove(dk)
      }
  }

  /** A view op: one source delta, then a refresh of all three views. */
  private def viewOp(ctx: Ctx, kind: String, layer: String, src: SpaceDataset, rows: Long,
      inBytes: Long)(apply: => (() => Unit)): Unit = {
    val avBefore = av.dataset.storage.metadata.currentSnapshotId
    commit(ctx, kind, layer, src, rows, inBytes, () => {
      refresh(ctx, "views.MaterializedView")(mv.refresh())
      refresh(ctx, "views.AggregateView")(av.refresh())
      refresh(ctx, "views.JoinView")(jv.refresh())
    })(apply)
    if (ctx.rec.traced) {
      // groups whose aggregate state row the refresh rewrote (its change feed)
      av.dataset.refresh()
      val after = av.dataset.storage.metadata.currentSnapshotId
      if (after != avBefore) {
        val adds = av.dataset.diff(avBefore.toString, after.toString)
          .filter(_.changeType == "ADD").map(_.data.count()).sum
        ctx.rec.noteLast("views.AggregateView", "recomputed_groups", adds.toDouble)
      }
    }
  }

  private def refresh(ctx: Ctx, layer: String)(f: => Int): Unit =
    ctx.rec.span(layer)(ctx.rec.note("commits", f.toDouble))

  /** One maintenance pass on `events`: compact, manifest rewrite, expiry + GC. */
  private def maintenance(ctx: Ctx): Unit = {
    ctx.rec.maintenance("core.CompactOp.compact") {
      events.compact(targetFileRows = CompactRows).foreach(r =>
        ctx.rec.note("files_removed", r.rewrittenFiles))
    }
    ctx.rec.maintenance("core.RewriteManifestsOp.rewriteManifests") {
      events.rewriteManifests(targetFilesPerManifest = 1000).foreach(r =>
        ctx.rec.note("manifests_removed", r.rewrittenManifests))
    }
    ctx.rec.maintenance("core.GcOps.expireSnapshots")(events.expireSnapshots(0L, keepLast = 3))
    ctx.rec.maintenance("core.GcOps.garbageCollect") {
      ctx.rec.note("files_removed", events.garbageCollect(minAgeMs = 0L).deleted.size)
    }
  }

  def checks(ctx: Ctx, reopened: Boolean): Unit = {
    val spark = ctx.spark
    if (!reopened) {
      // live handles: metadata-only row counts; the full comparison reads
      // the same files through fresh handles
      ctx.rec.check("ingest_refresh.head.counts") {
        events.countRows() == model.size && fact.countRows() == facts.size &&
          dim.countRows() == dims.size
      }
    } else {
      val ev = SpaceDataset.load(spark, dir("events"))
      ctx.rec.check("ingest_refresh.reopened.events") { contents(ev.readAll()) == view(model) }
      midModel.foreach(m => ctx.rec.check("ingest_refresh.reopened.events_at_mid_tag") {
        contents(ev.read(version = Some("mid"))) == view(m)
      })
      viewChecks(ctx)
    }
  }

  /** Both view sources equal the model, and every view equals a
    * from-scratch recompute over the model of the sources' head. */
  private def viewChecks(ctx: Ctx): Unit = {
    val spark = ctx.spark
    ctx.rec.check("ingest_refresh.reopened.view_sources") {
      SpaceDataset.load(spark, dir("fact")).readAll().select("fid", "dk", "amt", "note").collect()
        .map(r => r.getLong(0) -> Fact(r.getLong(1), r.getLong(2), r.getString(3))).toMap ==
        facts.toMap &&
      SpaceDataset.load(spark, dir("dim")).readAll().select("dk", "attr", "name").collect()
        .map(r => r.getLong(0) -> Dim(r.getLong(1), r.getString(2))).toMap == dims.toMap
    }
    ctx.rec.check("ingest_refresh.reopened.materialized") {
      MaterializedView.load(spark, dir("mv")).dataset.readAll().select("fid", "dk", "amt2")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
        facts.collect { case (k, x) if x.amt % 3 != 0 => (k, x.dk, x.amt * 2) }.toSet
    }
    ctx.rec.check("ingest_refresh.reopened.aggregate") {
      AggregateView.load(spark, dir("av")).read()
        .select(col("dk"), col("min_amt").cast("long"), col("max_amt").cast("long"),
          col("n").cast("long"), col("total").cast("long")).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap ==
        facts.values.groupBy(_.dk).map { case (dk, fs) =>
          val amts = fs.map(_.amt)
          dk -> ((amts.min, amts.max, amts.size.toLong, amts.sum))
        }
    }
    ctx.rec.check("ingest_refresh.reopened.join") {
      def opt(r: Row, i: Int): Option[Long] = if (r.isNullAt(i)) None else Some(r.getLong(i))
      val got = JoinView.load(spark, dir("jv")).read().select("dk", "fid", "amt", "attr").collect()
        .map(r => (opt(r, 0), opt(r, 1), opt(r, 2), opt(r, 3))).toSeq.sortBy(_.toString)
      val matched = facts.toSeq.map { case (k, x) =>
        (Some(x.dk), Some(k), Some(x.amt), dims.get(x.dk).map(_.attr))
      }
      val factDks = facts.values.map(_.dk).toSet
      val lonely = dims.toSeq.collect { case (dk, y) if !factDks(dk) =>
        (Some(dk), None, None, Some(y.attr))
      }
      got == (matched ++ lonely).sortBy(_.toString)
    }
  }

  private def contents(df: DataFrame): Map[Long, (Long, Double, String, ByteBuffer)] =
    df.select("k", "g", "v", "tag", "payload").collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getString(3),
        Common.bytes(r.getAs[Array[Byte]](4))))).toMap

  private def view(m: collection.Map[Long, Event]): Map[Long, (Long, Double, String, ByteBuffer)] =
    m.map { case (k, e) => k -> ((e.g, e.v, e.tag, Common.bytes(e.payload))) }.toMap

  def layerMetrics(ctx: Ctx, a: Analysis): Seq[Metric] = {
    val app = a.named("core.AppendOp")
    val dml = a.prefixed("core.DmlOps.")
    val commits = app ++ dml
    def c(ss: Seq[Span])(f: Counters => Long): Double = a.mean(ss)(s => f(s.counters).toDouble)
    def maint(p: String, op: String, removed: String) = {
      val ss = a.named(s"$p.$op")
      Seq(Metric(s"$p.$op.ms", a.p50(ss), "ms"),
        Metric(s"$p.bytes_rewritten", c(ss)(_.bytesWritten), "bytes"),
        Metric(s"$p.$removed", a.perCall(ss, removed), "count"))
    }
    def viewLayer(p: String): Seq[Metric] = {
      val ss = a.named(p)
      Seq(Metric(s"$p.refresh.p50_ms", a.p50(ss), "ms")) ++ a.layer(p, ss) ++ Seq(
        Metric(s"$p.commits", a.perCall(ss, "commits"), "count"),
        Metric(s"$p.bytes_written", c(ss)(_.bytesWritten), "bytes"))
    }
    val gc = a.named("core.GcOps.garbageCollect")
    Seq(Metric("core.AppendOp.p50_ms", a.p50(app), "ms")) ++ a.layer("core.AppendOp", app) ++ Seq(
      Metric("core.AppendOp.fs_creates", c(app)(_.creates), "count"),
      Metric("core.AppendOp.fs_renames", c(app)(_.renames), "count"),
      Metric("core.AppendOp.fs_deletes", c(app)(_.deletes), "count"),
      Metric("core.AppendOp.bytes_written", c(app)(_.bytesWritten), "bytes")) ++
    Seq("upsert", "delete", "update", "merge").map(k =>
      Metric(s"core.DmlOps.$k.p50_ms", a.p50(a.named(s"core.DmlOps.$k")), "ms")) ++
    a.layer("core.DmlOps", dml) ++ Seq(
      Metric("core.DmlOps.fs_renames", c(dml)(_.renames), "count"),
      Metric("core.DmlOps.bytes_written", c(dml)(_.bytesWritten), "bytes"),
      Metric("core.DmlOps.dv_files_added", a.perCall(dml, "dv_files"), "count"),
      Metric("core.DmlOps.files_rewritten", a.perCall(dml, "files_rewritten"), "count"),
      Metric("core.Storage.metadata_bytes_per_commit",
        a.extra(commits, "metadata_bytes") / a.extra(commits, "commits"), "bytes"),
      Metric("core.Storage.load_ms",
        Common.medianMs(5)(SpaceDataset.load(ctx.spark, dir("events"))), "ms"),
      Metric("core.Storage.versions_ms", Common.medianMs(5)(events.versions().collect()), "ms")) ++
    maint("core.CompactOp", "compact", "files_removed") ++
    maint("core.RewriteManifestsOp", "rewriteManifests", "manifests_removed") ++ Seq(
      Metric("core.GcOps.expireSnapshots.ms", a.p50(a.named("core.GcOps.expireSnapshots")), "ms"),
      Metric("core.GcOps.garbageCollect.ms", a.p50(gc), "ms"),
      Metric("core.GcOps.files_removed", a.perCall(gc, "files_removed"), "count"),
      Metric("maintenance.next_op_stall_ms",
        Layers.stall(ctx.rec, "core.GcOps.garbageCollect"), "ms")) ++
    viewLayer("views.MaterializedView") ++ viewLayer("views.AggregateView") ++
    viewLayer("views.JoinView") :+
    Metric("views.AggregateView.recomputed_groups",
      a.perCall(a.named("views.AggregateView"), "recomputed_groups"), "count")
  }
}

object IngestRefresh {
  final case class Event(g: Long, v: Double, tag: String, payload: Array[Byte]) {
    def logicalBytes: Long = 8 * 3 + Common.utf8(tag) + payload.length
  }
  final case class Fact(dk: Long, amt: Long, note: String) {
    def logicalBytes: Long = 8 * 3 + Common.utf8(note)
  }
  final case class Dim(attr: Long, name: String) {
    def logicalBytes: Long = 8 * 2 + Common.utf8(name)
  }

  val EventSchema: StructType = StructType(Seq(
    StructField("k", LongType, nullable = false), StructField("g", LongType),
    StructField("v", DoubleType), StructField("tag", StringType),
    StructField("payload", BinaryType)))
  val FactSchema: StructType = StructType(Seq(
    StructField("fid", LongType, nullable = false), StructField("dk", LongType),
    StructField("amt", LongType), StructField("note", StringType)))
  val DimSchema: StructType = StructType(Seq(
    StructField("dk", LongType, nullable = false), StructField("attr", LongType),
    StructField("name", StringType)))

  val SeedRows = 3000
  val Groups = 20
  val SeedFacts = 4000
  val SeedDims = 200
  val DimLookahead = 20
  val MvFilter = "amt % 3 <> 0"
  val MidTagStep = 3
  val CompactRows = 4000L
  /** Per-call merge-on-read threshold for scattered deletes (the table
    * default, 0, rewrites files copy-on-write; broad deletes keep it). */
  val ScatteredDvFraction = 0.2

  /** One cycle of the op stream; the seed picks every key, value, group and
    * delta. The measured phase runs whole cycles, so every run measures the
    * same mix. `append` runs twice, once right after the maintenance pass,
    * so the stall that pass leaves behind has a same-kind baseline. */
  val Cycle: Seq[String] = Seq("append", "view:late_facts", "upsert", "delete_scattered",
    "view:dim_upsert", "update", "maintenance", "append", "merge", "view:fact_delete",
    "delete_broad", "view:dim_delete")
}
