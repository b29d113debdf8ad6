package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.SpaceDataset
import graft.operators.{Dedup, Semantics}

/** The curation and retrieval requests of `scan_serve`: a seeded
  * near-duplicate text corpus (text as a binary record field, plus an
  * embedding) and its stored MinHash band index. Requests: BM25 multi-query
  * top-k, hybrid BM25 + vector RRF top-k, and a dedup probe of an incoming
  * batch against the stored index. All read-only. Every answer is checked
  * against a plain-Scala recompute. */
final class Retrieval(base: String, rng: scala.util.Random) {
  import Retrieval._

  private var corpus: SpaceDataset = _
  private var index: SpaceDataset = _
  private val docs = mutable.LinkedHashMap.empty[Long, Doc]
  private var input = 0L
  private var batchId = BatchIdBase

  val dirs: Seq[String] = Seq(s"$base/corpus", s"$base/mh_index")
  def inputBytes: Long = input
  def liveBytes: Long = docs.values.map(_.logicalBytes).sum

  private def words(n: Int): Vector[String] =
    Vector.fill(n)("w" + Common.zipfRank(rng, Vocab))

  /** A copy of `text` with one word replaced. */
  private def nearDup(text: Vector[String]): Vector[String] =
    text.updated(rng.nextInt(text.size), "w" + (Vocab + rng.nextInt(Vocab)))

  private def newDoc(text: Vector[String]): Doc =
    Doc(text, Vector.fill(Dims)(math.round(rng.nextGaussian() * 1000) / 1000.0))

  def seed(ctx: Ctx): Unit = {
    val spark = ctx.spark
    var id = 0L
    while (docs.size < ctx.scaled(CorpusDocs)) {
      // a base document and a few near-duplicates of it
      val text = words(DocWords)
      docs(id) = newDoc(text); id += 1
      (0 until rng.nextInt(3)).foreach { _ => docs(id) = newDoc(nearDup(text)); id += 1 }
    }
    corpus = SpaceDataset.create(spark, dirs(0), CorpusSchema, Seq("doc_id"),
      recordFields = Seq("text"), statsFields = Seq("doc_id"))
    corpus.append(Common.df(spark, CorpusSchema, docs.toSeq.map { case (k, d) =>
      Row(k, d.text.mkString(" ").getBytes(UTF_8), d.emb)
    }))
    input += liveBytes
    val rows = Dedup.minhashIndexRows(text(corpus.readAll()), "text", "doc_id")
    index = SpaceDataset.create(spark, dirs(1), rows.schema, Seq("id", "band"),
      statsFields = Seq("band_key"))
    index.append(rows)
    input += docs.size.toLong * Bands * 8 * 3
  }

  def reopen(ctx: Ctx): Unit = {
    corpus = SpaceDataset.load(ctx.spark, dirs(0))
    index = SpaceDataset.load(ctx.spark, dirs(1))
  }

  /** The corpus never changes after set-up, so neither does its model. */
  private lazy val model = Model(docs)

  private def text(df: DataFrame): DataFrame =
    df.select(col("doc_id"), decode(col("text"), "UTF-8").as("text"), col("emb"))

  private def queryTerms(): Seq[String] = {
    // terms of a random document, so every query matches something
    val d = docs.valuesIterator.drop(rng.nextInt(docs.size)).next()
    Seq.fill(QueryTerms)(d.text(rng.nextInt(d.text.size))).distinct
  }

  /** Documents the last request scored (each query scores the corpus). */
  var scored = 0L

  /** BM25 over several queries at once, top `K` per query. */
  def bm25(ctx: Ctx): Boolean = {
    val queries = (0 until Queries).map(q => q -> queryTerms())
    val got = ctx.rec.span("operators.Semantics") {
      Semantics.bm25Multi(text(corpus.readAll()), "text", "doc_id", queries)
        .withColumn("rn", row_number().over(
          Window.partitionBy("q_id").orderBy(col("bm25").desc, col("doc_id").asc)))
        .filter(col("rn") <= K).select("q_id", "doc_id", "bm25").collect()
    }.groupBy(_.getInt(0)).map { case (q, rs) => q -> rs.map(r => r.getLong(1) -> r.getDouble(2)).toSeq }
    scored = docs.size.toLong * queries.size
    queries.forall { case (q, ts) => topKOk(got.getOrElse(q, Nil), model.scores(ts), K) }
  }

  /** Hybrid BM25 + embedding-cosine retrieval fused by reciprocal rank. */
  def hybrid(ctx: Ctx): Boolean = {
    val terms = queryTerms()
    val qid = docs.keysIterator.drop(rng.nextInt(docs.size)).next()
    val got = ctx.rec.span("operators.Semantics") {
      val d = text(corpus.readAll())
      val emb = d.select(col("doc_id").as("vec_id"), col("emb").as("embedding"))
      Semantics.hybridRrf(d, emb, terms, qid, KEach, K)
        .select("doc_id", "rrf").collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    }
    scored = docs.size.toLong
    val want = model.hybrid(terms, qid)
    got.map(_._1).toSet == want.map(_._1).toSet && got.forall { case (id, s) =>
      want.find(_._1 == id).exists(w => math.abs(w._2 - s) <= 1e-5)
    }
  }

  /** Dedup an incoming batch (near-duplicates of stored documents and new
    * documents) against the stored MinHash index. Nothing is committed. */
  def dedup(ctx: Ctx): Boolean = {
    val sources = Seq.fill(DedupBatch / 2)(docs.keysIterator.drop(rng.nextInt(docs.size)).next())
    val batch = sources.map(s => s -> nearDup(docs(s).text)) ++
      Seq.fill(DedupBatch - sources.size)(-1L -> words(DocWords))
    val ids = batch.map { _ => batchId += 1; batchId }
    val batchDf = Common.df(ctx.spark, BatchSchema,
      ids.zip(batch).map { case (id, (_, t)) => Row(id, t.mkString(" ")) })
    val pairs = ctx.rec.span("operators.Dedup") {
      val p = Dedup.minhashAgainstStoredIndex(index.readAll(), text(corpus.readAll()), batchDf,
        "text", "doc_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      ctx.spark.catalog.clearCache()
      ctx.rec.note("pairs", p.size.toDouble)
      p
    }
    scored = batch.size.toLong
    val texts = ids.zip(batch.map(_._2)).toMap
    // sound: every pair is a real near-duplicate with the reported Jaccard;
    // complete: every planted near-duplicate similar enough that LSH
    // (16 bands of 2) misses it with probability < 1e-7 is reported
    val sound = pairs.forall { case (b, c, j) =>
      val exact = jaccard(texts(b), docs(c).text)
      exact >= Threshold && math.abs(exact - j) <= 1e-4
    }
    val found = pairs.map(p => p._1 -> p._2).toSet
    val complete = ids.zip(batch).forall { case (id, (src, t)) =>
      src < 0 || jaccard(t, docs(src).text) < MustFind || found((id, src))
    }
    sound && complete
  }

  /** Top-k answer `got` (id, rounded score) against exact `scores`. */
  private def topKOk(got: Seq[(Long, Double)], scores: Map[Long, Double], k: Int): Boolean = {
    val tol = 2e-4
    got.size == math.min(k, scores.size) && got.forall { case (id, s) =>
      scores.get(id).exists(x => math.abs(x - s) <= tol)
    } && {
      val floor = if (got.isEmpty) Double.MaxValue else got.map(_._2).min
      val ids = got.map(_._1).toSet
      scores.forall { case (id, s) => s <= floor + tol || ids(id) }
    }
  }

  def checks(ctx: Ctx, tag: String): Unit = {
    ctx.rec.check(s"scan_serve.$tag.corpus") {
      text(corpus.readAll()).select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap ==
        docs.map { case (k, d) => k -> d.text.mkString(" ") }.toMap
    }
  }
}

object Retrieval {
  final case class Doc(text: Vector[String], emb: Vector[Double]) {
    def logicalBytes: Long = 8 + Common.utf8(text.mkString(" ")) + 8L * emb.size
  }

  val CorpusSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", BinaryType),
    StructField("emb", ArrayType(DoubleType, containsNull = false))))
  val BatchSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType)))

  val CorpusDocs = 1000
  val DocWords = 40
  val Vocab = 400
  val Dims = 8
  val Queries = 4
  val QueryTerms = 3
  val K = 10
  val KEach = 20
  val DedupBatch = 12
  val BatchIdBase = 1000000000L
  val Bands = 16
  val Threshold = 0.6
  /** Planted near-duplicates at or above this Jaccard must be found. */
  val MustFind = 0.75

  def shingles(t: Vector[String]): Set[String] =
    if (t.size <= 3) Set(t.mkString(" ")) else t.sliding(3).map(_.mkString(" ")).toSet

  def jaccard(a: Vector[String], b: Vector[String]): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val inter = (x intersect y).size
    val union = x.size + y.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Plain-Scala BM25 and hybrid RRF over the corpus, the formulas of
    * `Semantics.bm25Multi` / `hybridRrf`. */
  final case class Model(docs: collection.Map[Long, Doc]) {
    private val k1 = 1.2
    private val b = 0.75
    private val n = docs.size.toDouble
    private val avgdl = docs.values.map(_.text.size).sum / n
    private val tfs = docs.map { case (k, d) => k -> d.text.groupBy(identity).map { case (t, v) => t -> v.size } }
    private val df = mutable.HashMap.empty[String, Int]
    tfs.values.foreach(_.keys.foreach(t => df(t) = df.getOrElse(t, 0) + 1))

    /** doc → BM25 (rounded to 4 places) for documents holding any term. */
    def scores(terms: Seq[String]): Map[Long, Double] =
      docs.keys.flatMap { k =>
        val tf = tfs(k)
        val dl = docs(k).text.size
        val hit = terms.distinct.filter(tf.contains)
        if (hit.isEmpty) None
        else Some(k -> round(hit.map { t =>
          val idf = math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5))
          idf * (tf(t) * (k1 + 1)) / (tf(t) + k1 * (1 - b + b * dl / avgdl))
        }.sum, 4))
      }.toMap

    def hybrid(terms: Seq[String], qid: Long): Seq[(Long, Double)] = {
      val lex = scores(terms).toSeq.sortBy { case (k, s) => (-s, k) }.take(KEach)
        .map(_._1).zipWithIndex.map { case (k, i) => k -> (i + 1) }.toMap
      val q = docs(qid).emb
      def cos(v: Vector[Double]): Double = {
        val dot = v.zip(q).map { case (x, y) => x * y }.sum
        val d = math.sqrt(v.map(x => x * x).sum) * math.sqrt(q.map(x => x * x).sum)
        if (d == 0) 0.0 else dot / d
      }
      val vec = docs.toSeq.filter(_._1 != qid).map { case (k, d) => k -> cos(d.emb) }
        .sortBy { case (k, c) => (-c, k) }.take(KEach)
        .map(_._1).zipWithIndex.map { case (k, i) => k -> (i + 1) }.toMap
      (lex.keySet ++ vec.keySet).toSeq.map { k =>
        k -> round(lex.get(k).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
          vec.get(k).map(r => 1.0 / (60 + r)).getOrElse(0.0), 6)
      }.sortBy { case (k, s) => (-s, k) }.take(K)
    }
  }

  def round(x: Double, places: Int): Double =
    BigDecimal(x).setScale(places, BigDecimal.RoundingMode.HALF_UP).toDouble
}
