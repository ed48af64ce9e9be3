package graft

import org.apache.spark.JobCounter
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.functions._

import graft.lineage.TileLineage
import graft.lineage.TileLineage.RunStats

/** Resumability contract (north rule): a killed run resumes without
  * recomputing completed tiles; the lineage log is the commit record. */
class LineageSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_lineage").toFile
    d.deleteOnExit(); d.getAbsolutePath
  }

  private def input = {
    import spark.implicits._
    spark.range(0, 1000)
      .select($"id", concat(lit("t"), ($"id" % 7).cast("string")).as("tile_id"))
  }

  test("first run writes everything; second run is a no-op") {
    val dir = freshDir()
    val s1 = TileLineage.runResumable(spark, input, dir)
    assert(s1.tilesTotal === 7 && s1.tilesWritten === 7 && s1.rowsWritten === 1000)
    val s2 = TileLineage.runResumable(spark, input, dir, attempt = 2)
    assert(s2.tilesWritten === 0 && s2.tilesSkipped === 7)
    assert(TileLineage.readTable(spark, dir).count() === 1000)
    // lineage has exactly one record per tile
    assert(TileLineage.lineage(spark, dir).count() === 7)
  }

  test("killed run resumes: only missing tiles recomputed, no duplicates") {
    import spark.implicits._
    val dir = freshDir()
    // first attempt dies while writing tiles t5/t6
    intercept[Exception] {
      TileLineage.runResumable(spark, input, dir, failTiles = Set("t5"))
    }
    val committed = TileLineage.completedTiles(spark, dir).as[String].collect().toSet
    assert(committed.isEmpty) // job failed before any lineage commit
    // second attempt without fault: everything written exactly once
    val s2 = TileLineage.runResumable(spark, input, dir, attempt = 2)
    assert(s2.tilesWritten === 7)
    assert(TileLineage.readTable(spark, dir).count() === 1000)
  }

  test("uncommitted data files are invisible to readers (manifest prune)") {
    val dir = freshDir()
    TileLineage.runResumable(spark, input, dir)
    // simulate a killed run's leftover: a valid parquet file under data/
    // that no lineage record references
    input.limit(10).write.parquet(dir + "/data/run-orphan")
    assert(TileLineage.readTable(spark, dir).count() === 1000)
  }

  test("numeric-looking and escaped tile ids survive partition round-trips") {
    import spark.implicits._
    val dir = freshDir()
    // "007" would re-infer as int 7; "a b" is %-escaped in the path
    val in = spark.range(0, 90)
      .select($"id", element_at(array(lit("007"), lit("1e3"), lit("a b")),
                                ($"id" % 3).cast("int") + 1).as("tile_id"))
    val s1 = TileLineage.runResumable(spark, in, dir)
    assert(s1.tilesWritten === 3 && s1.rowsWritten === 90, s1)
    val lin = TileLineage.lineage(spark, dir)
      .select($"tile_id").as[String].collect().toSet
    assert(lin === Set("007", "1e3", "a b"))
    // resume is a no-op for exactly these ids
    val s2 = TileLineage.runResumable(spark, in, dir, attempt = 2)
    assert(s2.tilesWritten === 0 && s2.tilesSkipped === 3, s2)
  }

  test("partially committed run resumes from the lineage log") {
    import spark.implicits._
    val dir = freshDir()
    // commit tiles t0..t2 in a first run restricted to them
    val part1 = input.filter($"tile_id".isin("t0", "t1", "t2"))
    TileLineage.runResumable(spark, part1, dir)
    assert(TileLineage.completedTiles(spark, dir).count() === 3)
    // full input: only the remaining 4 tiles are computed
    val s2 = TileLineage.runResumable(spark, input, dir, attempt = 2)
    assert(s2.tilesSkipped === 3 && s2.tilesWritten === 4)
    assert(TileLineage.readTable(spark, dir).count() === 1000)
    // per-tile rows in lineage match the data
    val fromLineage = TileLineage.lineage(spark, dir)
      .groupBy($"tile_id").agg(sum($"rows").as("rows"))
      .as[(String, Long)].collect().toMap
    val fromData = TileLineage.readTable(spark, dir)
      .groupBy($"tile_id").count().as[(String, Long)].collect().toMap
    assert(fromLineage === fromData)
    // containing-file bytes recorded and positive, file paths committed
    assert(TileLineage.lineage(spark, dir).filter($"file_bytes" <= 0).count() === 0)
    assert(TileLineage.lineage(spark, dir).filter($"file".isNull).count() === 0)
  }

  test("a kill during the manifest append leaves an empty log: every tile is rewritten") {
    val dir = freshDir()
    // what a job killed before its commit leaves behind: no committed file
    assert(new java.io.File(dir, s"${TileLineage.LineageDir}/_temporary/0").mkdirs())
    val s1 = TileLineage.runResumable(spark, input, dir)
    assert(s1 === RunStats(7, 0, 7, 1000), s1)
    assert(TileLineage.readTable(spark, dir).count() === 1000)
  }

  test("a tile split across files counts once; its rows sum over its records") {
    import spark.implicits._
    val dir = freshDir()
    val small = input.filter($"id" < 100)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "5")
    try {
      val s1 = TileLineage.runResumable(spark, small, dir)
      assert(s1 === RunStats(7, 0, 7, 100), s1)
      // more records than tiles: some tile really spans several files
      assert(TileLineage.lineage(spark, dir).count() > 7)
      val s2 = TileLineage.runResumable(spark, small, dir, attempt = 2)
      assert(s2 === RunStats(7, 7, 0, 0), s2)
      val fromLineage = TileLineage.lineage(spark, dir)
        .groupBy($"tile_id").agg(sum($"rows").as("rows"))
        .as[(String, Long)].collect().toMap
      val fromData = TileLineage.readTable(spark, dir)
        .groupBy($"tile_id").count().as[(String, Long)].collect().toMap
      assert(fromLineage === fromData)
      assert(fromData.values.sum === 100)
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("empty input on a fresh table commits nothing") {
    import spark.implicits._
    val dir = freshDir()
    assert(TileLineage.runResumable(spark, input.filter($"id" < 0), dir) === RunStats(0, 0, 0, 0))
    assert(TileLineage.readTable(spark, dir).count() === 0)
  }

  test("job plan: a fresh write takes at most 4 jobs, a no-op resume at most 3") {
    val dir = freshDir()
    val (s1, writeJobs) = JobCounter(spark.sparkContext)(TileLineage.runResumable(spark, input, dir))
    assert(s1 === RunStats(7, 0, 7, 1000), s1)
    assert(writeJobs <= 4, s"fresh write ran $writeJobs jobs")
    val (s2, resumeJobs) = JobCounter(spark.sparkContext)(
      TileLineage.runResumable(spark, input, dir, attempt = 2))
    assert(s2 === RunStats(7, 7, 0, 0), s2)
    assert(resumeJobs <= 3, s"no-op resume ran $resumeJobs jobs")
  }
}
