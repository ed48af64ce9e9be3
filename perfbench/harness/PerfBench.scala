package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.{LinkedHashMap => JMap}

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.{Bench, SparkEntry}
import graft.api.Geo
import graft.extract.InterleavedDocs
import graft.lineage.TileLineage

/**
 * The benchmark's JVM side. One invocation runs one workload for one seed
 * and writes a JSON record; `perfbench/run.py` builds it, launches it and
 * prints the result line.
 *
 * Load model: a closed loop with one client and one operation in flight.
 * Every query is forced through the `noop` sink with an `observe()`
 * fingerprint of its rows attached, so each output is checked without a
 * second execution; the comparison happens after the timed region.
 *
 * Workloads:
 *  - suite: a fixed cross-module subset of SparkEntry.queries on the
 *    committed sf0.001 tables, in a seeded order per pass;
 *  - flagship: q16_docs_pip then q17_span_tiles on a generated documents
 *    table;
 *  - lineage: the q18 tiling of the same table through
 *    TileLineage.runResumable, write then resume, in a fresh directory
 *    per pass.
 * An untraced run measures the loop at local[4] and then at local[1] on the
 * same input (scale_eff). A traced run measures the loop untraced, then
 * traced, then runs the per-layer probes.
 */
object PerfBench {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: String, out: String, expect: Option[String])

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
         m("data"), m("work"), m("out"), m.get("expect"))
  }

  /** The suite's queries: one from each of the relational, raster, text,
    * ann, doc and source modules, covering the kernels the per-layer table
    * names and q65, a multi-job query that spends most of its time building
    * DataFrames. A full pass of all 108 queries takes over a minute on 4
    * cores, more than one run may spend. */
  val SuiteQueries: Seq[String] = Seq(
    "q02_region_revenue", "q25_mosaic_substitute_grid", "q36_simhash", "q97_ann_ivf_broadcast",
    "q16_docs_pip", "q65_stac_ingest")

  val Modules: Seq[(String, Set[String])] = Seq(
    "relational" -> graft.api.RelationalQueries.queries.keySet,
    "spatial" -> graft.api.SpatialQueries.queries.keySet,
    "raster" -> graft.api.RasterQueries.queries.keySet,
    "terrain" -> graft.api.TerrainQueries.queries.keySet,
    "text" -> graft.api.TextQueries.queries.keySet,
    "ann" -> graft.api.AnnQueries.queries.keySet,
    "doc" -> graft.api.DocQueries.queries.keySet,
    "media" -> graft.api.MediaQueries.queries.keySet,
    "source" -> graft.api.SourceQueries.queries.keySet)
  def moduleOf(q: String): String = Modules.find(_._2.contains(q)).map(_._1).getOrElse("other")

  /** Generated table for flagship and lineage: several files with several
    * row groups each, so the scan plans one task per core. */
  val DocsLayout = DocsGen.Layout(docs = 30000, files = 8, rowGroupsPerFile = 2)
  val Cores = 4
  val Setups = 3
  /** Warm-up passes before measuring: the driver-side JIT keeps warming for
    * several passes, so the measured passes start near steady state. */
  def warmups(w: Workload): Int = if (w == Suite) 1 else 2

  // ------------------------------------------------------------------ ops

  final case class OpRec(name: String, pass: Int, cores: Int, traced: Boolean, wallS: Double,
                         rows: Long, ok: Option[Boolean], detail: String)

  /** (rows, sum of row hashes mod a prime, xor of row hashes) as aggregates. */
  def fingerprintCols(df: DataFrame): Seq[Column] = {
    val fields = df.schema.fields.sortBy(_.name)
    require(fields.map(_.name).distinct.length == fields.length,
            s"duplicate output column names: ${fields.map(_.name).mkString(",")}")
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val h = xxhash64(fields.toIndexedSeq.map { f =>
      val c = df.col("`" + f.name.replace("`", "``") + "`")
      if (hasMap(f.dataType)) to_json(c) else c
    }: _*)
    Seq(count(lit(1)), sum(pmod(h, lit(Fingerprint.Prime))), bit_xor(h))
  }

  final class Runner(val a: Args, val tracer: Tracer) {
    var spark: SparkSession = _
    var cores = Cores
    val ops = mutable.ArrayBuffer[OpRec]()
    val failures = mutable.ArrayBuffer[String]()
    val fingerprints = mutable.LinkedHashMap[String, Fingerprint]()
    private var obsId = 0
    /** Pass number of the ops being recorded: -1 during set-up, -2 in probes. */
    var pass = -1

    def now(): Long = System.nanoTime()
    def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9
    def time[T](body: => T): (Double, T) = { val t0 = now(); val v = body; (secs(t0, now()), v) }

    def start(c: Int): Double = {
      val t0 = now()
      cores = c
      spark = SparkSession.builder()
        .master(s"local[$c]")
        .appName("perfbench")
        // the same plans at every core count: only the parallelism changes
        .config("spark.sql.shuffle.partitions", Cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"${a.work}/spark-local")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      tracer.attach(spark)
      secs(t0, now())
    }

    def stop(): Unit = { tracer.disable(); spark.stop(); spark = null }

    /** One checked query operation; returns its wall seconds. */
    def query(name: String, expected: Option[Fingerprint])(build: => DataFrame): Double = {
      var wall = -1.0; var rows = 0L; var ok: Option[Boolean] = None; var detail = ""
      try {
        val obs = Observation(s"perfbench_fp_$obsId"); obsId += 1
        val t0 = now()
        tracer.op(name) {
          val df = tracer.span("api.build")(build)
          val fp = fingerprintCols(df)
          val observed = df.observe(obs, fp.head, fp.tail: _*)
          tracer.span("action")(Bench.force(observed))
        }
        wall = secs(t0, now())
        val r = Await.result(obs.future, 120.seconds)
        val fp = Fingerprint(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
                             if (r.isNullAt(2)) 0L else r.getLong(2))
        rows = fp.rows
        fingerprints(name) = fp
        ok = expected.map(_ == fp)
        if (ok.contains(false)) detail = s"fingerprint $fp, expected ${expected.get}"
      } catch {
        case t: Throwable =>
          ok = Some(false); detail = t.toString.take(400)
          System.err.println(s"[perfbench] $name failed:"); t.printStackTrace()
      }
      Bench.cleanup(spark)
      record(OpRec(name, pass, cores, tracer.enabled, wall, rows, ok, detail))
      wall
    }

    def record(r: OpRec): Unit = {
      ops += r
      if (r.ok.contains(false)) failures += s"${r.name} (pass ${r.pass}): ${r.detail}"
      if (r.ok.isEmpty && a.expect.isEmpty) failures += s"${r.name}: no expected output (unchecked)"
    }
  }

  // ------------------------------------------------------------ workloads

  final case class PassResult(passS: Double, opS: Seq[Double], rowsPerS: Double, resumeS: Double)

  abstract class Workload {
    var exp: DocsGen.Expected = _
    /** Stage or generate the inputs under `dir`; the timed part of set-up. */
    def stage(r: Runner, dir: String): Unit
    /** Untimed: compute what the checks compare against. */
    def prepare(r: Runner, dir: String): Unit
    def pass(r: Runner, dir: String, seed: Long): PassResult
  }

  /** Oracle replay over the docs of `dir`, with token counts read by Spark. */
  def replayDir(spark: SparkSession, dir: String): DocsGen.Expected = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), size(split(col("text"), " "))).collect()
      .map(x => (x.getLong(0), x.getInt(1)))
    DocsGen.replay(docs.iterator, zoneKeys(spark, dir))
  }

  def zoneKeys(spark: SparkSession, dir: String): Seq[Long] =
    spark.read.parquet(s"$dir/nation.parquet").select(col("n_nationkey").cast("long"))
      .collect().map(_.getLong(0)).toSeq

  object Suite extends Workload {
    private var expected: Map[String, Fingerprint] = Map.empty
    def stage(r: Runner, dir: String): Unit = {
      Files.createDirectories(Paths.get(dir))
      new File(s"${r.a.data}/sf0.001").listFiles().filter(_.getName.endsWith(".parquet"))
        .sortBy(_.getName).foreach(f => Files.copy(f.toPath, Paths.get(dir, f.getName)))
    }
    def prepare(r: Runner, dir: String): Unit = {
      val p = Paths.get(s"${r.a.data}/expected-suite.tsv")
      expected = if (!Files.exists(p)) Map.empty
        else Files.readAllLines(p).asScala.filter(_.nonEmpty).map { l =>
          val i = l.indexOf('\t'); l.substring(0, i) -> Fingerprint.parse(l.substring(i + 1))
        }.toMap
      exp = replayDir(r.spark, dir)
    }
    def pass(r: Runner, dir: String, seed: Long): PassResult = {
      val lat = new scala.util.Random(seed).shuffle(SuiteQueries).map { q =>
        r.query(q, expected.get(q))(SparkEntry.queries(q)(r.spark, dir))
      }
      val rows = r.ops.takeRight(lat.size).map(_.rows).sum
      PassResult(lat.sum, lat, rows / lat.sum, Double.NaN)
    }
  }

  object Flagship extends Workload {
    def stage(r: Runner, dir: String): Unit = generate(r, dir)
    def prepare(r: Runner, dir: String): Unit = exp = replayGenerated(r, dir)
    def pass(r: Runner, dir: String, seed: Long): PassResult = {
      val a = r.query("q16_docs_pip", Some(exp.q16))(SparkEntry.queries("q16_docs_pip")(r.spark, dir))
      val b = r.query("q17_span_tiles", Some(exp.q17))(SparkEntry.queries("q17_span_tiles")(r.spark, dir))
      val rows = r.ops.takeRight(2).map(_.rows).sum
      PassResult(a + b, Seq(a, b), rows / (a + b), Double.NaN)
    }
  }

  object Lineage extends Workload {
    val stats = mutable.ArrayBuffer[LineageStats]()
    def stage(r: Runner, dir: String): Unit = generate(r, dir)
    def prepare(r: Runner, dir: String): Unit = exp = replayGenerated(r, dir)
    def pass(r: Runner, dir: String, seed: Long): PassResult = {
      val (wall, st) = lineagePass(r, dir, exp.q18)
      if (st == null) return PassResult(wall, Seq(wall), Double.NaN, Double.NaN)
      if (r.pass >= 0) stats += st
      PassResult(wall, Seq(wall), st.rows / st.writeS, st.resumeS)
    }
  }

  var layout: Option[(Int, Int)] = None

  def generate(r: Runner, dir: String): Unit =
    DocsGen.write(r.spark, r.a.seed, DocsLayout, dir, s"${r.a.data}/sf0.001/nation.parquet")

  def replayGenerated(r: Runner, dir: String): DocsGen.Expected = {
    layout = Some(DocsGen.layoutOf(r.spark, dir))
    val docs = Iterator.range(0, DocsLayout.docs.toInt).map(d => (d.toLong, DocsGen.nTokens(r.a.seed, d)))
    DocsGen.replay(docs, zoneKeys(r.spark, dir))
  }

  /** q18's tiling, as DocQueries builds it before calling TileLineage. */
  def tiled(spark: SparkSession, dir: String): DataFrame = {
    import Geo._
    val lon = col("lon"); val lat = col("lat")
    InterleavedDocs.geoPoints(spark, dir)
      .withColumn("cx", floor((lon - lit(minX)) / ((lit(maxX) - lit(minX)) / 934.0)).cast("long"))
      .withColumn("cy", floor((lat - lit(minY)) / ((lit(maxY) - lit(minY)) / 631.0)).cast("long"))
      .withColumn("tile_id",
        concat(lit("t"), (floor(col("cx") / 64.0) * 100 + floor(col("cy") / 64.0)).cast("long").cast("string")))
      .select(col("doc_id"), col("span_idx"), col("tile_id"))
      .localCheckpoint(true)
  }

  final case class LineageStats(writeS: Double, resumeS: Double, rows: Long, files: Int,
                                bytes: Long, tilesWritten: Long, skipRatio: Double)

  private var tables = 0

  /** One q18 operation: build the tiling, write it into a fresh table
    * (attempt 1), resume (attempt 2, must write nothing), then compare the
    * lineage log with the expected per-tile rows. `resumes` > 1 repeats the
    * no-op resume and keeps the median. */
  def lineagePass(r: Runner, dir: String, expected: Map[String, Long],
                  resumes: Int = 1): (Double, LineageStats) = {
    tables += 1
    val tableDir = s"${r.a.work}/table-$tables"
    var st: LineageStats = null
    var ok: Option[Boolean] = None; var detail = ""
    val t0 = r.now()
    try {
      r.tracer.op("q18_lineage_tiles") {
        val input = r.tracer.span("api.build")(tiled(r.spark, dir))
        val (w, s1) = r.time(r.tracer.span("lineage.attempt1")(TileLineage.runResumable(r.spark, input, tableDir)))
        val again = (1 to resumes).map { _ =>
          val (rs, s2) = r.time(r.tracer.span("lineage.attempt2")(
            TileLineage.runResumable(r.spark, input, tableDir, attempt = 2)))
          if (s2.tilesWritten != 0 || s2.tilesSkipped != s2.tilesTotal)
            throw new IllegalStateException(s"resume was not a no-op: $s2")
          (rs, s2)
        }
        val files = new File(s"$tableDir/${TileLineage.DataDir}").listFiles().toSeq
          .flatMap(_.listFiles().toSeq).filter(_.getName.endsWith(".parquet"))
        val s2 = again.last._2
        st = LineageStats(w, median(again.map(_._1)), s1.rowsWritten, files.size, files.map(_.length).sum,
                          s1.tilesWritten, s2.tilesSkipped.toDouble / math.max(1L, s2.tilesTotal))
      }
    } catch {
      case t: Throwable =>
        ok = Some(false); detail = t.toString.take(400)
        System.err.println("[perfbench] q18_lineage_tiles failed:"); t.printStackTrace()
    }
    val wall = r.secs(t0, r.now())
    if (ok.isEmpty) {
      val got = TileLineage.lineage(r.spark, tableDir).select("tile_id", "rows").collect()
        .map(x => x.getString(0) -> x.getLong(1)).toMap
      ok = Some(got == expected)
      if (!ok.get) detail = s"lineage has ${got.size} tiles and ${got.values.sum} rows, expected " +
        s"${expected.size} and ${expected.values.sum}"
    }
    Bench.cleanup(r.spark)
    r.record(OpRec("q18_lineage_tiles", r.pass, r.cores, r.tracer.enabled, wall,
                   if (st == null) 0L else st.rows, ok, detail))
    (wall, st)
  }

  // ------------------------------------------------------------- the run

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolation quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.filter(x => !x.isNaN).sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1); val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** Heap in use after a full GC, a pause for Spark's ContextCleaner to
    * drop the blocks and broadcasts that GC released, and a second GC. */
  def heapAfterGcMb(): Double = {
    System.gc(); Thread.sleep(200); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def gcSeconds(): Double = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0

  /** `gcS`: JVM GC time inside the passes, summed. */
  final case class Window(passes: Seq[PassResult], wallS: Double, heapMb: Double,
                          otherCpuS: Double, gcS: Double) {
    def passS: Double = median(passes.map(_.passS))
  }

  /** Closed loop of passes until `seconds` have been spent (at least
    * `minPasses`). `before(i)` runs ahead of the i-th pass. After each pass,
    * untimed: cached blocks are dropped and a full GC runs; the heap left
    * in use is the heap peak. */
  def loop(r: Runner, w: Workload, dir: String, seconds: Double, minPasses: Int = 1,
           before: Int => Unit = _ => ()): Window = {
    val res = mutable.ArrayBuffer[PassResult](); var heap = 0.0
    val hb0 = Bench.hostBusyJiffies(); val pj0 = Bench.procJiffies(); var gc = 0.0
    val t0 = r.now(); var spent = 0.0
    while (res.size < minPasses || spent < seconds) {
      before(res.size)
      r.pass += 1
      val gc0 = gcSeconds()
      res += w.pass(r, dir, r.a.seed * 1000 + r.pass)
      gc += gcSeconds() - gc0
      r.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      heap = math.max(heap, heapAfterGcMb())
      spent = r.secs(t0, r.now())
    }
    val hb1 = Bench.hostBusyJiffies(); val pj1 = Bench.procJiffies()
    Window(res.toSeq, spent, heap, ((hb1 - hb0) - (pj1 - pj0)) / 100.0, gc)
  }

  /** Fixed CPU spin on n threads; returns wall seconds. */
  def spin(n: Int): Double = {
    val iters = 40000000L
    val sink = new java.util.concurrent.atomic.AtomicLong
    val ts = (0 until n).map { i =>
      new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + i; var k = 0L
        while (k < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; k += 1 }
        sink.addAndGet(x)
      })
    }
    val t0 = System.nanoTime(); ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def jmap(kv: (String, Any)*): JMap[String, Object] = {
    val m = new JMap[String, Object]()
    kv.foreach { case (k, v) => m.put(k, v.asInstanceOf[AnyRef]) }
    m
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val w: Workload = a.workload match {
      case "suite" => Suite
      case "flagship" => Flagship
      case "lineage" => Lineage
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val rec = jmap("workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace)

    // host calibration before Spark starts: the scaling ceiling of a fixed spin
    spin(1)
    val spin1 = median((0 until 3).map(_ => spin(1)))
    val spin4 = median((0 until 3).map(_ => spin(Cores)))
    val host = jmap("cpus" -> Runtime.getRuntime.availableProcessors, "spin_1t_s" -> spin1,
                    "spin_4t_s" -> spin4, "spin_scale" -> spin1 / spin4)
    rec.put("host", host)

    val r = new Runner(a, new Tracer)
    val sessionS = r.start(Cores)
    if (a.trace) graft.functions.GraftFunctions.register(r.spark)

    // set-up: stage or generate the input several times and keep the
    // median, then the warm-up passes on the first copy
    val dirs = (1 to Setups).map(i => s"${a.work}/input-$i")
    val stageS = dirs.map(d => r.time(w.stage(r, d))._1)
    val dir = dirs.head
    w.prepare(r, dir)
    val (warmS, _) = r.time((1 to warmups(w)).foreach(i => w.pass(r, dir, a.seed * 1000 - i)))
    val setupS = sessionS + median(stageS) + warmS
    rec.put("setup", jmap("session_s" -> sessionS, "stage_s" -> stageS.asJava, "warmup_s" -> warmS))
    layout.foreach { case (f, g) => rec.put("layout", s"${DocsLayout.docs} docs in $f files, $g row groups") }
    val docs = r.spark.read.parquet(s"$dir/documents.parquet").count()

    if (a.expect.isDefined) {
      // expected-results mode: two passes must agree; write the fingerprints
      val first = r.fingerprints.clone()
      r.fingerprints.clear(); w.pass(r, dir, a.seed * 1000 + 1)
      require(first == r.fingerprints, "suite fingerprints differ between two passes")
      Files.writeString(Paths.get(a.expect.get),
        first.toSeq.sortBy(_._1).map { case (k, v) => s"$k\t$v" }.mkString("", "\n", "\n"))
      r.stop(); return
    }

    // metric name -> value; run.py attaches the units BENCHMARK.json gives
    val metrics = new JMap[String, Object]()
    def put(k: String, v: Double): Unit = metrics.put(k, Double.box(v))

    // traced runs alternate untraced and traced passes, so JIT warm-up
    // drifts both halves alike and their difference is the tracing overhead
    // at least three 4-core passes: their median then skips a first pass
    // that is still warming up
    val w4 = loop(r, w, dir, if (a.trace) a.seconds else a.seconds * 0.75,
                  minPasses = if (a.trace) 4 else 3,
                  before = i => if (a.trace && i % 2 == 1) r.tracer.enable() else r.tracer.disable())
    r.tracer.disable()
    val otherFrac = w4.otherCpuS / (w4.wallS * Cores)
    host.put("other_cpu_frac", Double.box(otherFrac))
    host.put("contended", Boolean.box(otherFrac > 0.10))
    val (tracedPasses, untracedPasses) = w4.passes.zipWithIndex.partition(p => a.trace && p._2 % 2 == 1)
    rec.put("passes_4", untracedPasses.map(_._1.passS).asJava)

    if (!a.trace) {
      // resume_s: lineage resumes inside its passes; the other workloads
      // resume a tiling of their own docs input, timed after the loop
      val resume = w match {
        case Lineage => median(w4.passes.map(_.resumeS))
        case _ => r.pass = -2; lineagePass(r, dir, w.exp.q18, resumes = 3)._2.resumeS
      }
      r.stop()
      r.start(1)
      r.pass = -1
      w.pass(r, dir, a.seed * 1000 - 9) // warm-up of the new session, untimed
      r.pass = w4.passes.size - 1
      val w1 = loop(r, w, dir, a.seconds * 0.25)
      r.stop()
      rec.put("passes_1", w1.passes.map(_.passS).asJava)
      val lat = w4.passes.flatMap(_.opS)
      rec.put("query_samples", Int.box(lat.size))
      put("setup_s", setupS)
      put("pass_s", w4.passS)
      put("query_p50_s", quantile(lat, 0.5))
      put("query_p90_s", quantile(lat, 0.9))
      put("docs_per_s", docs / w4.passS)
      put("scale_eff", w1.passS / (Cores * w4.passS))
      put("rows_per_s", median(w4.passes.map(_.rowsPerS)))
      put("resume_s", resume)
      put("heap_peak_mb", math.max(w4.heapMb, w1.heapMb))
    } else {
      val wt = w4.copy(passes = tracedPasses.map(_._1))
      rec.put("passes_traced", wt.passes.map(_.passS).asJava)
      val spans = r.tracer.allSpans()
      val spansFile = a.out.stripSuffix(".json") + ".spans.jsonl"
      Files.write(Paths.get(spansFile), spans.map(s =>
        s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","start_us":${s.startUs},"end_us":${s.endUs}}"""
      ).asJava)
      rec.put("spans_file", Paths.get(spansFile).getFileName.toString)
      val layers = mutable.LinkedHashMap[String, Double]()
      Layers.fromTrace(r.tracer, spans, wt, layers, rec)
      layers("jvm.gc_s") = w4.gcS / w4.passes.size
      layers("trace.overhead_s") = wt.passS - median(untracedPasses.map(_._1.passS))
      layers("host.spin_scale") = spin1 / spin4
      layers("host.other_cpu_frac") = otherFrac
      r.pass = -2
      val probeS = new JMap[String, Object]()
      def probe(name: String)(body: => Unit): Unit = probeS.put(name, Double.box(r.time(body)._1))
      probe("functions")(Probes.functions(r.spark, a.seed, layers))
      probe("rasters")(Probes.rasters(a.seed, layers))
      probe("index")(Probes.index(r.spark, dir, a.seed, layers))
      probe("prefixes")(Probes.prefixes(r.spark, dir, layers))
      var st = Lineage.stats.toSeq
      if (w != Lineage) probe("lineage") { st = Seq(lineagePass(r, dir, w.exp.q18)._2).filter(_ != null) }
      rec.put("probe_s", probeS)
      def med(f: LineageStats => Double) = median(st.map(f))
      layers("lineage.write_s") = med(_.writeS)
      layers("lineage.resume_s") = med(_.resumeS)
      layers("lineage.files") = med(_.files.toDouble)
      layers("lineage.bytes_written") = med(_.bytes.toDouble)
      layers("lineage.tiles_written") = med(_.tilesWritten.toDouble)
      layers("lineage.skip_ratio") = med(_.skipRatio)
      layers.foreach { case (k, v) => put(k, v) }
    }

    val failed = r.ops.count(_.ok.contains(false))
    val unchecked = r.ops.count(_.ok.isEmpty)
    rec.put("attempted", Int.box(r.ops.size)); rec.put("failed", Int.box(failed))
    rec.put("unchecked", Int.box(unchecked))
    rec.put("fail_frac", Double.box(failed.toDouble / math.max(1, r.ops.size)))
    rec.put("failures", r.failures.distinct.asJava)
    rec.put("correct", Boolean.box(r.failures.isEmpty))
    rec.put("metrics", metrics)
    rec.put("ops", r.ops.map(o => jmap("name" -> o.name, "pass" -> o.pass, "cores" -> o.cores,
      "traced" -> o.traced, "wall_s" -> o.wallS, "rows" -> o.rows,
      "ok" -> o.ok.map(Boolean.box).orNull)).asJava)
    if (r.spark != null) r.stop()
    new com.fasterxml.jackson.databind.ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValue(new File(a.out), rec)
  }
}
