package perfbench

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.PerfbenchProbe
import graft.core.{RandomAccessReader, SpaceDataset}

/** `scan_serve`: one table built in set-up with stats, bloom and bucket
  * columns, a record field, delete vectors and tagged snapshots; the
  * measured phase only reads it. The bloom-prover cache holds 512
  * (file, column) entries: point lookups rotate over `BloomColumns`
  * columns of 64 index files, so they sweep 576 keys in cyclic order and
  * the least-recently-used one is always the next one needed. The manifest
  * rows fit the 1M-row manifest cache many times over. */
final class ScanServe extends Workload {
  import ScanServe._

  private var dir: String = _
  private var ds: SpaceDataset = _
  private var rng: scala.util.Random = _
  private var reader: RandomAccessReader = _
  private var retrieval: Retrieval = _
  private val model = mutable.HashMap.empty[Long, Rec]
  private val tagged = mutable.HashMap.empty[String, Map[Long, Rec]]
  private var days = 0
  private var input = 0L
  private var op = 0
  /** Next bloom column of the lookup rotation. */
  private var bloomCol = 0
  /** Bloom-prover cache misses (footer opens) per measured bloom lookup. */
  private val lookupOpens = mutable.ArrayBuffer.empty[Double]

  // traced-op observations (plan and pruning), filled after each traced read
  private val planMs = mutable.ArrayBuffer.empty[Double]
  private val filesKept = mutable.ArrayBuffer.empty[Double]
  private val manifestsKept = mutable.ArrayBuffer.empty[Double]
  private val rowsReturned = mutable.ArrayBuffer.empty[Double]
  private lazy val rowsPerFile: Map[String, Long] =
    ds.indexManifest().select("_FILE", "_NUM_ROWS").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  def tableDirs: Seq[String] = dir +: retrieval.dirs
  def inputBytes: Long = input + retrieval.inputBytes
  def liveBytes: Long = model.values.map(_.logicalBytes).sum + retrieval.liveBytes
  /** Index files of the head snapshot (the bloom-prover cache holds 512). */
  def indexFiles: Int = ds.plan().files.size

  private def frame(ctx: Ctx, rows: Seq[(Long, Rec)]): DataFrame =
    Common.df(ctx.spark, Schema,
      rows.map { case (k, r) => Row((Seq(k, r.day) ++ r.bl ++ Seq(r.v, r.payload)): _*) })

  private def chunk(c: Int, perDay: Int): Seq[(Long, Rec)] =
    for (d <- c * DaysPerChunk until (c + 1) * DaysPerChunk; j <- 0 until perDay) yield {
      val id = d.toLong * RowsPerDay + j
      id -> Rec(d.toLong, Vector.fill(BloomColumns)(f"b${rng.nextLong() & 0xffffffffffL}%x"),
        rng.nextInt(100000) / 100.0, Common.payload(id, 0, rng, 64, 256))
    }

  def seed(ctx: Ctx, base: String): Unit = {
    dir = s"$base/scan"
    rng = ctx.rng(2)
    ds = SpaceDataset.create(ctx.spark, dir, Schema, Seq("id"), recordFields = Seq("payload"),
      statsFields = Seq("id", "day", "v"), bucketColumns = Seq("day"), numBuckets = Buckets,
      bloomColumns = BloomNames)
    // scale rows per day, not days, so every chunk fills all buckets
    val perDay = ctx.scaled(RowsPerDay)
    def add(rows: Seq[(Long, Rec)]): Unit =
      rows.foreach { case (k, r) => model(k) = r; input += r.logicalBytes }
    // bulk load: Chunks sources, one commit; then late data and a scattered
    // merge-on-read delete, each tagged
    val chunks = (0 until Chunks).map(chunk(_, perDay))
    ds.appendFrom(chunks.map(rows => () => frame(ctx, rows)))
    chunks.foreach(add)
    ds.addTag("t0"); tagged("t0") = model.toMap
    val late = chunk(Chunks, perDay)
    ds.append(frame(ctx, late))
    add(late)
    ds.addTag("t1"); tagged("t1") = model.toMap
    val keys = model.keysIterator.toIndexedSeq
    val dead = Seq.fill(ctx.scaled(40))(keys(rng.nextInt(keys.size))).distinct
    ds.delete(col("id").isin(dead: _*), dvMaxFraction = Some(0.2))
    dead.foreach(model.remove)
    days = (Chunks + 1) * DaysPerChunk
    reader = new RandomAccessReader(ds, "payload")
    retrieval = new Retrieval(base, ctx.rng(4))
    retrieval.seed(ctx)
    require(proverKeys > BloomCacheEntries,
      s"$proverKeys bloom-prover keys do not overflow the $BloomCacheEntries-entry cache")
    System.err.println(s"[perfbench] scan_serve: ${model.size} rows, $indexFiles index files, " +
      s"$proverKeys bloom-prover keys")
  }

  private def proverKeys: Int = indexFiles * BloomColumns

  /** Each engine path once, unmeasured (counts and time travel share the
    * scan path of `range`). Then the rest of the bloom-column rotation is
    * planned, so the cache holds the keys of the last 512 in the sweep and
    * the measured lookups continue it: under LRU each one misses on every
    * file. */
  def warmup(ctx: Ctx): Unit = {
    Seq("range", "bloom_point", "random_access", "bm25", "hybrid", "dedup").foreach(request(ctx, _))
    while (bloomCol != 0) ds.plan(Some(col(BloomNames(nextBloomCol())) === "zz"))
    lookupOpens.clear()
  }

  private def nextBloomCol(): Int = {
    val c = bloomCol
    bloomCol = (bloomCol + 1) % BloomColumns
    c
  }

  override def notes: Map[String, Any] = Map("index_files" -> indexFiles,
    "bloom_prover_keys" -> proverKeys, "bloom_cache_entries" -> BloomCacheEntries,
    "bloom_footer_opens_per_lookup" -> lookupOpens.toSeq)

  def cycle: Int = Cycle.size
  def step(ctx: Ctx, i: Int): Unit = request(ctx, Cycle(i % Cycle.size))

  private def contents(df: DataFrame): Map[Long, (Long, Seq[String], Double, ByteBuffer)] =
    df.select(Schema.fieldNames.map(col).toIndexedSeq: _*).collect().map { r =>
      val b = BloomColumns
      r.getLong(0) -> ((r.getLong(1), (0 until b).map(i => r.getString(2 + i)),
        r.getDouble(2 + b), Common.bytes(r.getAs[Array[Byte]](3 + b))))
    }.toMap

  private def expected(m: collection.Map[Long, Rec], p: Rec => Boolean) =
    m.collect { case (k, r) if p(r) => k -> ((r.day, r.bl, r.v, Common.bytes(r.payload))) }.toMap

  /** A read request checked against `m`; traced requests also plan the
    * same filter to record pruning. */
  private def scan(ctx: Ctx, kind: String, filter: Column, version: Option[String],
      m: collection.Map[Long, Rec], p: Rec => Boolean, countOnly: Boolean = false): Unit = {
    val traced = ctx.rec.traced
    val want = expected(m, p)
    var rows = 0L
    ctx.rec.op(kind, rows) {
      ctx.rec.span("core.ReadOp.read") {
        val df = ds.read(filter = Some(filter), version = version)
        if (countOnly) { rows = df.count(); rows == want.size }
        else { val got = contents(df); rows = got.size; got == want }
      }
    }
    if (traced) {
      val t0 = System.nanoTime()
      val plan = ds.plan(Some(filter), version)
      planMs += (System.nanoTime() - t0) / 1e6
      filesKept += plan.files.size.toDouble / math.max(1, plan.totalFiles)
      if (plan.totalManifests > 0)
        manifestsKept += 1.0 - plan.prunedManifests.toDouble / plan.totalManifests
      val inKept = plan.files.map(f => rowsPerFile.getOrElse(f, 0L)).sum
      rowsReturned += rows.toDouble / math.max(1L, inKept)
    }
  }

  private def request(ctx: Ctx, kind: String): Unit = {
    op += 1
    val d = rng.nextInt(math.max(1, days - 10)).toLong
    kind match {
      case "range" =>
        scan(ctx, kind, col("day").between(d, d + 2), None, model, r => r.day >= d && r.day <= d + 2)
      case "bloom_point" =>
        // lookups rotate over the bloom columns; one in four asks for a
        // value no row holds
        val c = nextBloomCol()
        val tok =
          if (op % 4 == 0) f"zz${rng.nextInt()}%x"
          else model.valuesIterator.drop(rng.nextInt(model.size)).next().bl(c)
        val opens = PerfbenchProbe.bloomFooterOpens
        scan(ctx, kind, col(BloomNames(c)) === tok, None, model, _.bl(c) == tok)
        lookupOpens += (PerfbenchProbe.bloomFooterOpens - opens).toDouble
      case "count" =>
        scan(ctx, kind, col("day").between(d, d + 9) && col("v") > CountAbove, None, model,
          r => r.day >= d && r.day <= d + 9 && r.v > CountAbove, countOnly = true)
      case "time_travel" =>
        val tag = if (op % 2 == 0) "t0" else "t1"
        scan(ctx, kind, col("day").between(d, d + 2), Some(tag), tagged(tag),
          r => r.day >= d && r.day <= d + 2)
      case "bm25" => ctx.rec.op(kind, retrieval.scored)(retrieval.bm25(ctx))
      case "hybrid" => ctx.rec.op(kind, retrieval.scored)(retrieval.hybrid(ctx))
      case "dedup" => ctx.rec.op(kind, retrieval.scored)(retrieval.dedup(ctx))
      case "random_access" =>
        val n = reader.length
        val ords = Seq.fill(BatchSize)((rng.nextDouble() * n).toLong).distinct
        ctx.rec.op(kind, ords.size.toLong) {
          val got = ctx.rec.span("core.RandomAccess.batch")(reader.getBatch(ords))
          ctx.rec.noteLast("core.RandomAccess.batch", "payload_bytes", got.map(_.length).sum)
          payloadOk(got)
        }
    }
  }

  /** Every payload is the generated one for the key it carries, and no key
    * comes back twice. */
  private def payloadOk(got: Seq[Array[Byte]]): Boolean = {
    val keys = got.map(b => ByteBuffer.wrap(b).getLong(0))
    keys.distinct.size == keys.size && got.zip(keys).forall { case (b, k) =>
      model.get(k).exists(r => java.util.Arrays.equals(r.payload, b))
    }
  }

  /** Every request was checked as it ran; at the end the table and the
    * corpus are compared whole through fresh handles. */
  def checks(ctx: Ctx, reopened: Boolean): Unit =
    if (!reopened) ctx.rec.check("scan_serve.head.reader_length") { reader.length == model.size }
    else {
      ds = SpaceDataset.load(ctx.spark, dir)
      ctx.rec.check("scan_serve.reopened.table") { contents(ds.readAll()) == expected(model, _ => true) }
      ctx.rec.check("scan_serve.reopened.reader_length") {
        new RandomAccessReader(ds, "payload").length == model.size
      }
      retrieval.reopen(ctx)
      retrieval.checks(ctx, "reopened")
    }

  def layerMetrics(ctx: Ctx, a: Analysis): Seq[Metric] = {
    val reads = a.named("core.ReadOp.read")
    val batches = a.named("core.RandomAccess.batch")
    val batchBytes = batches.map(_.counters.bytesRead).sum.toDouble
    Seq(
      Metric("core.ReadOp.plan_ms", Main.median(planMs.toSeq), "ms"),
      Metric("core.ReadOp.files_kept_frac", Main.median(filesKept.toSeq), "ratio"),
      Metric("core.ReadOp.manifests_kept_frac", Main.median(manifestsKept.toSeq), "ratio"),
      Metric("core.ReadOp.read.p50_ms", a.p50(reads), "ms"),
      Metric("core.ReadOp.rows_returned_frac", Main.median(rowsReturned.toSeq), "ratio"),
      Metric("core.ReadOp.jobs", a.mean(reads)(a.jobs(_).size.toDouble), "count"),
      Metric("core.ReadOp.bytes_read", a.mean(reads)(_.counters.bytesRead.toDouble), "bytes"),
      Metric("core.RandomAccess.open_ms",
        Common.medianMs(3)(new RandomAccessReader(ds, "payload")), "ms"),
      Metric("core.RandomAccess.batch.p50_ms", a.p50(batches), "ms"),
      Metric("core.RandomAccess.bytes_read_per_payload_byte",
        batchBytes / a.extra(batches, "payload_bytes"), "ratio"),
      Metric("core.BloomPruning.footer_opens_per_lookup", Main.median(lookupOpens.toSeq),
        "count")) ++
    Seq("operators.Semantics", "operators.Dedup").flatMap { p =>
      val ss = a.named(p)
      Seq(Metric(s"$p.p50_ms", a.p50(ss), "ms"),
        Metric(s"$p.jobs", a.mean(ss)(a.jobs(_).size.toDouble), "count"),
        Metric(s"$p.shuffle_bytes", a.mean(ss)(a.shuffleBytes(_).toDouble), "bytes"))
    } :+ {
      val dd = a.named("operators.Dedup")
      Metric("operators.Dedup.pairs", a.perCall(dd, "pairs"), "count")
    }
  }
}

object ScanServe {
  final case class Rec(day: Long, bl: Seq[String], v: Double, payload: Array[Byte]) {
    def logicalBytes: Long = 8 * 3 + bl.map(Common.utf8).sum + payload.length
  }

  val BloomColumns = 9
  /** Size of the engine's bloom-prover cache (`BloomPruning.MaxCached`). */
  val BloomCacheEntries = 512
  val BloomNames: Seq[String] = (0 until BloomColumns).map(i => s"bl$i")

  val Schema: StructType = StructType(
    Seq(StructField("id", LongType, nullable = false), StructField("day", LongType)) ++
    BloomNames.map(StructField(_, StringType)) ++
    Seq(StructField("v", DoubleType), StructField("payload", BinaryType)))

  /** Bulk-load sources; each writes one file per bucket (`Buckets`), so
    * with the late chunk the table holds 64 index files. */
  val Chunks = 3
  val DaysPerChunk = 60
  val RowsPerDay = 50
  val Buckets = 16
  val BatchSize = 32
  /** Filtered counts keep about half the rows of their ten days. */
  val CountAbove = 500.0

  /** One cycle of requests; the seed picks days, keys, tokens and terms.
    * The measured phase runs whole cycles, so every run measures the same
    * mix. */
  val Cycle: Seq[String] = Seq("range", "bloom_point", "random_access", "bm25", "count",
    "time_travel", "hybrid", "bloom_point", "random_access", "dedup", "range", "count")
}
