package graft.lineage

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Resumable per-tile materialization with lineage checkpoints — the
 * "Iceberg metadata table" stand-in (SURVEY.md §7.0: no Iceberg jar in this
 * environment, so parquet + an explicit `_lineage` manifest behind this
 * facade; the API shape stays swappable for a real catalog).
 *
 * Layout of a graft table (MANIFEST COMMITS, the Iceberg shape):
 *   <dir>/data/run-<uuid>/part-*.parquet   append-only data files; tile_id is
 *                                          a DATA column (never re-inferred
 *                                          from a path), each run writes its
 *                                          own directory
 *   <dir>/_lineage/...parquet              append-only commit records
 *                                          (tile_id, file, rows, file_bytes,
 *                                           attempt, completed_at_ms)
 *
 * A data file EXISTS only once a lineage record referencing it is committed:
 * [[readTable]] semi-joins the scan against the manifest's file list, so
 * files from killed runs are invisible (and GC-able) rather than corrupting
 * the table. This replaces the earlier one-directory-per-tile dynamic
 * overwrite, whose job commit renamed O(tiles) directories — at 148 tiles
 * that commit protocol dominated the write (measured ~2x the compute); a
 * manifest commit is one append job + one small manifest file regardless of
 * tile count.
 *
 * Write discipline (north rule: a killed run resumes without recomputing
 * completed tiles):
 *  1. the commit log is read at most once, with the fixed [[ManifestSchema]]
 *     (no schema-inference job), and its tile ids are collected on the
 *     driver — one record per (tile, file), so the set is bounded by the
 *     tile count times the files per tile;
 *  2. with no committed tile there is no census: every input tile is todo.
 *     Otherwise the input's distinct tile ids are collected once (bounded
 *     by the tile count), the done/todo split is driver arithmetic, a run
 *     with nothing todo returns at once, and the input is semi-joined
 *     against the todo ids as a local relation;
 *  3. one distributed job appends todo into a fresh run-<uuid> directory,
 *     repartitioned by tile_id so a tile lands in one write task;
 *  4. lineage records for the files just written are appended LAST — a tile
 *     is "done" only once its record is committed. A kill between 3 and 4
 *     recomputes those tiles into a new run directory (the orphan is never
 *     referenced), never skips and never double-reads. A kill during 4
 *     leaves its records under `_lineage/_temporary`, which every read
 *     skips; after a first run the log then reads as empty, so the next run
 *     rewrites every tile.
 * The written tile and row counts are `observe()` metrics on the manifest
 * append itself. A fresh write is 4 jobs (two per shuffle under AQE) and a
 * no-op resume 3 (log read, census map stage and collect).
 *
 * All filesystem access goes through the Hadoop FileSystem API (works on
 * HDFS/S3A, not just file://), and lineage records are produced by a
 * DISTRIBUTED aggregation over the just-written run directory — per-tile row
 * counts and the containing file's size come from a `_metadata` scan, never
 * from a driver-side per-tile stat loop.
 *
 * The reference analog: WCS/export file caches keyed by request
 * (WCSAdapter.java:114-158, RasterEncoder.java:69-80) — replaced here by
 * deterministic recompute + a durable commit log.
 */
object TileLineage {

  val DataDir = "data"
  val LineageDir = "_lineage"

  final case class RunStats(tilesTotal: Long, tilesSkipped: Long, tilesWritten: Long, rowsWritten: Long)

  /** The commit log's columns, fixed: every read of `_lineage` uses it, so
    * none infers a schema (an inference job, and an error on a log that
    * holds no committed file yet). */
  val ManifestSchema: StructType = StructType(Seq(
    StructField("tile_id", StringType), StructField("file", StringType),
    StructField("rows", LongType), StructField("file_bytes", LongType),
    StructField("attempt", IntegerType), StructField("completed_at_ms", LongType)))

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Distinct completed tile ids from the lineage log (empty on first run). */
  def completedTiles(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    val path = s"$tableDir/$LineageDir"
    if (exists(spark, path))
      lineage(spark, tableDir).select($"tile_id").distinct()
    else
      spark.emptyDataset[String].toDF("tile_id")
  }

  /** The lineage log itself
    * (tile_id, file, rows, file_bytes, attempt, completed_at_ms). */
  def lineage(spark: SparkSession, tableDir: String): DataFrame =
    spark.read.schema(ManifestSchema).parquet(s"$tableDir/$LineageDir")

  /** Committed tile ids, collected in one job (none without a log). */
  private def committedTileIds(spark: SparkSession, tableDir: String): Set[String] = {
    import spark.implicits._
    if (exists(spark, s"$tableDir/$LineageDir"))
      lineage(spark, tableDir).select($"tile_id").as[String].collect().toSet
    else Set.empty
  }

  /** Read the materialized table back: the recursive data scan pruned to the
    * files the manifest has committed — orphans from killed runs are
    * invisible. The file column is projected AT THE SCAN (`_metadata` does
    * not resolve later) and dropped after the prune. */
  def readTable(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    val committedFiles = lineage(spark, tableDir).select($"file").distinct()
    spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$tableDir/$DataDir")
      .withColumn("__file", col("_metadata.file_path"))
      .join(broadcast(committedFiles), $"__file" === $"file", "left_semi")
      .drop("__file")
  }

  /**
   * Materialize `input` (must carry a `tile_id` column) under `tableDir`,
   * skipping tiles already committed to lineage. Returns run statistics.
   * `failTiles` injects a fault for resume tests: the job throws while
   * writing any of those tiles (simulating a killed spark-submit).
   */
  def runResumable(spark: SparkSession, input: DataFrame, tableDir: String,
                   attempt: Int = 1, failTiles: Set[String] = Set.empty): RunStats = {
    import spark.implicits._
    require(input.schema("tile_id").dataType == StringType,
      s"tile_id must be a string column, got ${input.schema("tile_id").dataType}")
    // a null tile is never committed, so it is never materialized either
    val tiled = input.filter($"tile_id".isNotNull)

    val done = committedTileIds(spark, tableDir)
    // (input tiles, todo ids): a census needs a log that has committed tiles
    val census = if (done.isEmpty) None else {
      val tiles = tiled.select($"tile_id").distinct().as[String].collect()
      Some((tiles.length.toLong, tiles.filterNot(done)))
    }
    val skipped = census.fold(0L) { case (total, todoIds) => total - todoIds.length }
    census match {
      case Some((total, todoIds)) if todoIds.isEmpty => RunStats(total, skipped, 0L, 0L)
      case _ =>
        val todo = census.fold(tiled) { case (_, todoIds) =>
          tiled.join(broadcast(todoIds.toSeq.toDF("tile_id")), Seq("tile_id"), "left_semi")
        }
        val poison = udf { t: String =>
          if (failTiles.contains(t)) throw new RuntimeException(s"injected failure at tile $t")
          t
        }
        val toWrite = if (failTiles.isEmpty) todo
                      else todo.withColumn("tile_id", poison($"tile_id"))
        // fresh run directory per attempt: append semantics by construction,
        // and "the files this run wrote" is a directory listing, not a diff.
        // repartition by tile_id: a tile is written by one task, so it has one
        // file unless spark.sql.files.maxRecordsPerFile splits it; AQE may
        // coalesce many tiles into one file (150 tiles -> 1 file in q18)
        val runId = java.util.UUID.randomUUID().toString
        val runDir = s"$tableDir/$DataDir/run-$runId"
        toWrite.repartition($"tile_id").write.parquet(runDir)
        // job committed: now (and only now) record lineage — per-tile rows and
        // containing file from a distributed scan of the run directory
        // (reading back what the job ACTUALLY wrote, not what it intended to)
        val now = System.currentTimeMillis()
        val commit = Observation(s"graft_lineage_commit_$runId")
        spark.read.schema(input.schema).parquet(runDir)
          .select($"tile_id",
                  col("_metadata.file_path").as("file"),
                  col("_metadata.file_size").as("file_bytes"))
          .groupBy($"tile_id", $"file")
          .agg(count(lit(1)).as("rows"), first($"file_bytes").as("file_bytes"))
          .select($"tile_id", $"file", $"rows", $"file_bytes",
                  lit(attempt).as("attempt"), lit(now).as("completed_at_ms"))
          // a tile split over several files has several records: count
          // distinct ids, not records
          .observe(commit, size(collect_set($"tile_id")).cast("long").as("tiles"),
                   coalesce(sum($"rows"), lit(0L)).as("rows"))
          .coalesce(1)
          .write.mode(SaveMode.Append).parquet(s"$tableDir/$LineageDir")
        val written = commit.get
        val tiles = written("tiles").asInstanceOf[Long]
        RunStats(census.fold(tiles)(_._1), skipped, tiles, written("rows").asInstanceOf[Long])
    }
  }
}
