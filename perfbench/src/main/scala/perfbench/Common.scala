package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.core.SpaceDataset

object Common {
  def df(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  def utf8(s: String): Int = s.getBytes(UTF_8).length

  /** Seeded payload whose first 8 bytes are its key, so a payload read back
    * by ordinal can be checked without knowing which row it came from. */
  def payload(key: Long, version: Long, r: scala.util.Random, min: Int, max: Int): Array[Byte] = {
    val n = min + r.nextInt(max - min + 1)
    val b = new Array[Byte](math.max(n, 16))
    val g = new scala.util.Random(key * 31 + version)
    g.nextBytes(b)
    ByteBuffer.wrap(b).putLong(0, key).putLong(8, version)
    b
  }

  def bytes(b: Array[Byte]): ByteBuffer = ByteBuffer.wrap(b)

  /** Run `f` `n` times; median milliseconds. */
  def medianMs(n: Int)(f: => Any): Double =
    Main.median((1 to n).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    })

  /** Log-uniform rank in [1, n]: a Zipf-like choice favouring rank 1. */
  def zipfRank(r: scala.util.Random, n: Long): Long =
    math.min(n, math.max(1L, math.exp(r.nextDouble() * math.log(n.toDouble + 1)).toLong))
}

/** What one commit op left in its table, for traced ops: files of the
  * head snapshot and the listing of `metadata/`, before and after. */
final class CommitProbe(ds: SpaceDataset, dir: String) {
  private val files = ds.plan().files.toSet
  private val meta = DirDiff.list(dir)

  /** Notes on the finished `layer` span: commits (new metadata versions),
    * metadata bytes, delete-vector files added and data files rewritten. */
  def finish(rec: Recorder, layer: String): Unit = {
    val after = DirDiff.list(dir)
    val added = after.filter { case (n, _) => !meta.contains(n) }
    ds.refresh()
    val filesAfter = ds.plan().files.toSet
    rec.noteLast(layer, "commits", added.keys.count(CommitProbe.isVersion).toDouble)
    rec.noteLast(layer, "metadata_bytes", added.values.sum.toDouble)
    rec.noteLast(layer, "dv_files", added.keys.count(_.startsWith("dv_")).toDouble)
    rec.noteLast(layer, "files_rewritten", (files -- filesAfter).size.toDouble)
  }
}

object CommitProbe {
  /** Metadata version files (one per commit, directly in `metadata/`), as
    * opposed to manifests, delete vectors, change logs and the entrypoint. */
  def isVersion(name: String): Boolean =
    !name.contains('/') && name.endsWith(".json") && !name.startsWith("dv_") &&
      name != "entrypoint.json" && !name.contains(".tmp-")
}
