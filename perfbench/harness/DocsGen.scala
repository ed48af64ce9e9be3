package perfbench

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/**
 * Seeded generator of the `documents` table (the driver's schema: doc_id,
 * text, lang, source, n_chars) that the `flagship` and `lineage` workloads
 * run on, plus an exact replay of the q16/q17/q18 oracles over it.
 *
 * Every column is a pure function of (seed, doc_id) through Spark's
 * xxhash64, so the same seed yields the same rows and another seed other
 * rows. The layout is fixed too: one file per range partition and a fixed
 * row count per row group. Layout is an input property the engine depends
 * on: the same docs in one row group plan as one scan task.
 *
 * The replay recomputes each doc's token count with the same XXH64 calls
 * and then follows the oracle SQL of DocQueries operation for operation,
 * so its doubles match the engine's bit for bit. It yields the expected
 * output fingerprints (see [[Fingerprint]]) without running any oracle
 * inside a measured run.
 */
object DocsGen {
  final case class Layout(docs: Long, files: Int, rowGroupsPerFile: Int)

  val MinTokens = 10
  val MaxTokens = 100

  /** 256 pseudo-words of 2 to 4 syllables; only the token count feeds the
    * flagship pipeline, the words give the scan realistic string widths. */
  val Vocab: Array[String] = {
    val syl = Array("ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "ve", "da", "go", "hu", "ze",
                    "bra", "cel", "dro")
    Array.tabulate(256) { k =>
      val n = 2 + k % 3
      (0 until n).map(j => syl((k >> (2 * j) ^ j * 5) & 15)).mkString
    }
  }
  private val Langs = Array("en", "es", "fr", "pt")
  private val Sources = Array("web", "news", "books", "forum", "wiki")

  /** Token count of doc `d`: 10 + xxhash64(seed, d) mod 91, as in Spark. */
  def nTokens(seed: Long, d: Long): Int =
    MinTokens + Math.floorMod(XXH64.hashLong(d, XXH64.hashLong(seed, 42L)),
                              (MaxTokens - MinTokens + 1).toLong).toInt

  /** Write `documents.parquet` for `layout` under `dir` and copy the zone
    * source `nation.parquet` beside it. */
  def write(spark: SparkSession, seed: Long, layout: Layout, dir: String, nation: String): Unit = {
    val span = (MaxTokens - MinTokens + 1).toLong
    val h = xxhash64(lit(seed), col("id"))
    val ntok = (pmod(h, lit(span)) + MinTokens).cast("int")
    val vocab = array(Vocab.map(lit): _*)
    val text = concat_ws(" ", transform(sequence(lit(1), ntok), j =>
      element_at(vocab, (pmod(xxhash64(lit(seed), col("id"), j), lit(Vocab.length.toLong)) + 1)
        .cast("int"))))
    val df = spark.range(0, layout.docs, 1, layout.files)
      .select(col("id").as("doc_id"), text.as("text"),
        element_at(array(Langs.map(lit): _*),
          (pmod(xxhash64(lit(seed + 1), col("id")), lit(Langs.length.toLong)) + 1).cast("int")).as("lang"),
        element_at(array(Sources.map(lit): _*),
          (pmod(xxhash64(lit(seed + 2), col("id")), lit(Sources.length.toLong)) + 1).cast("int")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val perFile = (layout.docs + layout.files - 1) / layout.files
    val perGroup = (perFile + layout.rowGroupsPerFile - 1) / layout.rowGroupsPerFile
    df.write
      .option("parquet.block.row.count.limit", perGroup.toString)
      .option("compression", "snappy")
      .parquet(s"$dir/documents.parquet")
    java.nio.file.Files.copy(java.nio.file.Paths.get(nation),
                             java.nio.file.Paths.get(s"$dir/nation.parquet"))
  }

  /** (data files, row groups) of the written table, read from the footers. */
  def layoutOf(spark: SparkSession, dir: String): (Int, Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(s"$dir/documents.parquet")
    val files = root.getFileSystem(conf).listStatus(root)
      .filter(s => s.getPath.getName.endsWith(".parquet"))
    val groups = files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
      try r.getRowGroups.size finally r.close()
    }.sum
    (files.length, groups)
  }

  // ---------------- exact oracle replay ----------------

  private val minX = graft.api.Geo.minX; private val maxX = graft.api.Geo.maxX
  private val minY = graft.api.Geo.minY; private val maxY = graft.api.Geo.maxY

  /** CCW triangle of nation key k: (ax, ay, bx, by, cx2, cy2), the
    * `Geo.zonesSqlCte` arithmetic. */
  def zone(k: Long): Array[Double] = {
    val cx = minX + ((k * 13 + 3) % 97).toDouble / 97.0 * (maxX - minX)
    val cy = minY + ((k * 29 + 7) % 89).toDouble / 89.0 * (maxY - minY)
    val w = 0.08 + (k % 5).toDouble * 0.05
    val hh = 0.06 + (k % 7).toDouble * 0.04
    Array(cx - w, cy - hh, cx + w, cy - hh, cx, cy + hh)
  }

  private def inZone(z: Array[Double], lon: Double, lat: Double): Boolean = {
    val ax = z(0); val ay = z(1); val bx = z(2); val by = z(3); val cx2 = z(4); val cy2 = z(5)
    ((bx - ax) * (lat - ay) - (lon - ax) * (by - ay)) >= 0 &&
    ((cx2 - bx) * (lat - by) - (lon - bx) * (cy2 - by)) >= 0 &&
    ((ax - cx2) * (lat - cy2) - (lon - cx2) * (ay - cy2)) >= 0
  }

  final case class Expected(q16: Fingerprint, q17: Fingerprint, q18: Map[String, Long])

  /** Expected q16/q17 fingerprints and q18 per-tile row counts for docs
    * given as (doc_id, token count) pairs, with zones for `zoneKeys`.
    * `rows` receives each expected q16 and q17 row as CSV, for tests. */
  def replay(docs: Iterator[(Long, Int)], zoneKeys: Seq[Long],
             rows: (String, String) => Unit = (_, _) => ()): Expected = {
    val zones = zoneKeys.map(k => (k, zone(k))).toArray
    val q16 = new Fingerprint.Acc; val q17 = new Fingerprint.Acc
    val tiles = scala.collection.mutable.HashMap[String, Long]()
    docs.foreach { case (d, ntok) =>
      val nspans = math.ceil(ntok / 5.0).toLong
      val docId = "doc-" + "%012d".format(d)
      val docH = Fingerprint.hashString(docId, 42L)
      var i = 0L
      while (i < nspans) {
        if ((d + i) % 4 == 0) {
          val lon = minX + ((d * 7919 + i * 37) % 100000).toDouble / 100000.0 * (maxX - minX)
          val lat = minY + ((d * 104729 + i * 53) % 100000).toDouble / 100000.0 * (maxY - minY)
          val cx = math.floor((lon - minX) / ((maxX - minX) / 934.0)).toLong
          val cy = math.floor((lat - minY) / ((maxY - minY) / 631.0)).toLong
          // q17 columns by name: cell_idx, doc_id, span_idx
          q17.add(XXH64.hashLong(i, Fingerprint.hashString(docId, XXH64.hashLong(cx * 631 + cy, 42L))))
          rows("q17", s"$docId,$i,${cx * 631 + cy}")
          val tile = "t" + (math.floor(cx / 64.0) * 100 + math.floor(cy / 64.0)).toLong
          tiles(tile) = tiles.getOrElse(tile, 0L) + 1
          // q16 columns by name: doc_id, span_idx, zone_id
          val spanH = XXH64.hashLong(i, docH)
          var z = 0
          while (z < zones.length) {
            if (inZone(zones(z)._2, lon, lat)) {
              q16.add(XXH64.hashLong(zones(z)._1, spanH))
              rows("q16", s"$docId,$i,${zones(z)._1}")
            }
            z += 1
          }
        }
        i += 1
      }
    }
    Expected(q16.result, q17.result, tiles.toMap)
  }
}

/** Order-independent fingerprint of a result: row count, sum of per-row
  * xxhash64 mod a prime, and xor of the hashes. Rows hash their columns in
  * column-name order, with Spark's `xxhash64` semantics. */
final case class Fingerprint(rows: Long, sum: Long, xor: Long) {
  override def toString: String = s"$rows\t$sum\t$xor"
}

object Fingerprint {
  val Prime = 1000000007L

  def parse(s: String): Fingerprint = {
    val Array(r, su, x) = s.split("\t")
    Fingerprint(r.toLong, su.toLong, x.toLong)
  }

  def hashString(s: String, seed: Long): Long = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    XXH64.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, seed)
  }

  final class Acc {
    private var n = 0L; private var s = 0L; private var x = 0L
    def add(h: Long): Unit = { n += 1; s += Math.floorMod(h, Prime); x ^= h }
    def result: Fingerprint = Fingerprint(n, s, x)
  }
}
