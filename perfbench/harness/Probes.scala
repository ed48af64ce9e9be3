package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Geo
import graft.extract.InterleavedDocs
import graft.index.CellIndex
import graft.model.{Raster, TileGeometry}
import graft.operators.SpatialJoin
import graft.raster.Resample
import graft.sources.GeoTiff

/**
 * Per-layer probes of the traced run: each times calls into one module's
 * public functions on a fixed, seeded input, outside any workload pass.
 * Results land in `out` under the names BENCHMARK.json lists.
 */
object Probes {
  /** Keeps timed loops' results live. */
  @volatile var sink = 0L

  /** Median seconds per call of `body`, repeated until `minS` is spent. */
  def perCall(minS: Double, minReps: Int = 3)(body: => Unit): Double = {
    body
    val xs = mutable.ArrayBuffer[Double](); val t0 = System.nanoTime()
    while (xs.size < minReps || (System.nanoTime() - t0) / 1e9 < minS) {
      val a = System.nanoTime(); body; xs += (System.nanoTime() - a) / 1e9
    }
    PerfBench.median(xs.toSeq)
  }

  /** `functions`: the graft_* kernels through their registered SQL names,
    * each over a cached table sized so one query runs for ~0.1 s or more;
    * the time per row includes scanning the cached column(s). */
  def functions(spark: SparkSession, seed: Long, out: mutable.Map[String, Double]): Unit = {
    def h(i: Int, j: Column = lit(0)) = xxhash64(lit(seed), col("id"), lit(i), j)
    def frac(i: Int, j: Column = lit(0)) = pmod(h(i, j), lit(100000L)).cast("double") / 100000.0
    def table(name: String, n: Long, cols: Column*): Long = {
      spark.range(0, n, 1, PerfBench.Cores).select(cols: _*).cache().createOrReplaceTempView(name)
      spark.table(name).count()
    }
    val nPts = table("perfbench_pts", 1000000L,
      coalesce(lit(Geo.minX) + frac(0) * (Geo.maxX - Geo.minX), lit(0.0)).as("lon"),
      coalesce(lit(Geo.minY) + frac(1) * (Geo.maxY - Geo.minY), lit(0.0)).as("lat"))
    val nToks = table("perfbench_toks", 20000L,
      split(concat_ws(" ", transform(sequence(lit(1), lit(24)), j =>
        concat(lit("w"), pmod(h(2, j), lit(400L)).cast("string")))), " ").as("toks"))
    def vec(i: Int) = transform(sequence(lit(1), lit(64)), j => coalesce(frac(i, j), lit(0.0)))
    val nVec = table("perfbench_vec", 50000L, vec(3).as("a"), vec(4).as("b"))
    val ring = DocsGen.zone(3).mkString("array(", "D, ", "D)")
    Seq(
      ("scan", "count(lon)", "perfbench_pts", nPts),
      ("winding_contains", s"sum(CAST(graft_contains($ring, lon, lat) AS INT))", "perfbench_pts", nPts),
      ("cell_id", "bit_xor(graft_cell_id(lon, lat, 12))", "perfbench_pts", nPts),
      ("minhash_sigs4", "bit_xor(hash(graft_minhash_sigs4(toks)))", "perfbench_toks", nToks),
      ("simhash16", "bit_xor(graft_simhash16(toks))", "perfbench_toks", nToks),
      ("dot_d", "sum(graft_dot(a, b))", "perfbench_vec", nVec)).foreach { case (k, e, t, n) =>
      out(s"functions.${k}_ns_per_row") = perCall(0.3)(spark.sql(s"SELECT $e FROM $t").collect()) * 1e9 / n
    }
    Seq("perfbench_pts", "perfbench_toks", "perfbench_vec").foreach(t => spark.catalog.uncacheTable(t))
  }

  def raster(seed: Long, w: Int, h: Int): Raster = {
    val rnd = new scala.util.Random(seed)
    // smooth field plus noise: compressible like a DEM, not like white noise
    val band = Array.tabulate(w * h) { i =>
      val x = i / h; val y = i % h
      math.rint((100 * math.sin(x / 17.0) + 80 * math.cos(y / 23.0) + rnd.nextInt(8)) * 8) / 8
    }
    Raster("probe", 0L, w, h, Geo.minX, Geo.maxX, Geo.minY, Geo.maxY, 4326, Seq(band))
  }

  /** `sources` (GeoTIFF codec) and `raster` (resampling kernels). */
  def rasters(seed: Long, out: mutable.Map[String, Double]): Unit = {
    val r = raster(seed, 512, 512)
    val mb = r.width * r.height * 8 / 1e6
    val variants = Seq(
      "plain" -> (() => GeoTiff.encode(r)),
      "deflate" -> (() => GeoTiff.encode(r, deflate = true)),
      "lzw" -> (() => GeoTiff.encode(r, lzw = true)),
      "tiled" -> (() => GeoTiff.encode(r, tile = Some((128, 128)))))
    variants.foreach { case (k, enc) =>
      val bytes = enc()
      val back = GeoTiff.parse(bytes, "probe")
      require(java.util.Arrays.equals(back.bands.head, r.bands.head), s"GeoTIFF $k round trip changed samples")
      out(s"sources.geotiff_encode_${k}_mb_per_s") = mb / perCall(0.15)(enc())
      out(s"sources.geotiff_decode_${k}_mb_per_s") = mb / perCall(0.15)(GeoTiff.parse(bytes, "probe"))
    }
    val src = raster(seed, 256, 256)
    val target = TileGeometry(384, 384, Geo.minX, Geo.maxX, Geo.minY, Geo.maxY, 4326, 0L, 0L)
    Seq("nearest" -> Resample.Nearest, "bilinear" -> Resample.Bilinear, "bicubic" -> Resample.Bicubic)
      .foreach { case (k, kern) =>
        out(s"raster.resample_${k}_cells_per_s") = target.cells / perCall(0.15)(Resample.toGrid(src, target, kern))
      }
  }

  /** `index` (CellIndex) on the zones of `dir`. */
  def index(spark: SparkSession, dir: String, seed: Long, out: mutable.Map[String, Double]): Unit = {
    val rings = Geo.zones(spark, dir).select("ring").collect().map(_.getSeq[Double](0).toArray)
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    val covers = rings.map { ring =>
      val cs = (0 to ring.length / 2).map(i =>
        new org.locationtech.jts.geom.Coordinate(ring(2 * (i % (ring.length / 2))), ring(2 * (i % (ring.length / 2)) + 1)))
      CellIndex.coverGeometry(gf.createPolygon(cs.toArray), 12).length
    }
    out("index.cover_cells") = covers.sum.toDouble / covers.length
    val n = 1000000
    val rnd = new scala.util.Random(seed)
    val xs = Array.fill(n)(Geo.minX + rnd.nextDouble() * (Geo.maxX - Geo.minX))
    val ys = Array.fill(n)(Geo.minY + rnd.nextDouble() * (Geo.maxY - Geo.minY))
    val s = perCall(0.3) {
      var acc = 0L; var i = 0
      while (i < n) { acc ^= CellIndex.cellId(xs(i), ys(i), 12); i += 1 }
      sink = acc
    }
    out("index.cell_id_per_s") = n / s
  }

  /** `extract` and `operators`: the layer prefixes geoPoints ->
    * pointsInZones(geoPoints), each forced; a layer's cost is the difference
    * between consecutive prefixes. The full q16 is the workload itself. */
  def prefixes(spark: SparkSession, dir: String, out: mutable.Map[String, Double]): Unit = {
    val points = InterleavedDocs.geoPoints(spark, dir).count()
    val gp = perCall(0.5)(graft.Bench.force(InterleavedDocs.geoPoints(spark, dir)))
    val zones = Geo.zones(spark, dir).select(col("zone_id"), col("ring"))
    def pip = SpatialJoin.pointsInZones(InterleavedDocs.geoPoints(spark, dir), zones, level = 12)
    val pipS = perCall(0.5)(graft.Bench.force(pip))
    out("extract.geo_points_per_s") = points / gp
    out("operators.pip_s") = pipS - gp
    out("operators.pip_pairs") = pip.count().toDouble
  }
}
