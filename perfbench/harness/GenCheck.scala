package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/**
 * Fixture writer for `perfbench/test_generator.py`: generates small tables
 * (seed 7 twice, seed 8 once) in the benchmark's layout scheme, and for
 * each seed writes the oracle replay's rows, the replay's fingerprints
 * beside the engine's, the engine's q18 lineage, and the DocQueries oracle
 * SQL, so the test can hold the generator and the replay against DuckDB.
 *
 *     perfbench.GenCheck <out dir> <nation.parquet>   (run by test_generator.py)
 */
object GenCheck {
  val Layout = DocsGen.Layout(docs = 3000, files = 3, rowGroupsPerFile = 2)

  def main(args: Array[String]): Unit = {
    val Array(out, nation) = args
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-gencheck")
      .config("spark.sql.shuffle.partitions", "4").config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val summary = new java.util.LinkedHashMap[String, Object]()
    for ((name, seed) <- Seq("a1" -> 7L, "a2" -> 7L, "b" -> 8L)) {
      val dir = s"$out/$name"
      DocsGen.write(spark, seed, Layout, dir, nation)
      val rows = Map("q16" -> new StringBuilder("doc_id,span_idx,zone_id\n"),
                     "q17" -> new StringBuilder("doc_id,span_idx,cell_idx\n"))
      val docs = Iterator.range(0, Layout.docs.toInt).map(d => (d.toLong, DocsGen.nTokens(seed, d)))
      val exp = DocsGen.replay(docs, PerfBench.zoneKeys(spark, dir), (q, l) => rows(q).append(l).append('\n'))
      rows.foreach { case (q, sb) => Files.writeString(Paths.get(s"$dir/replay_$q.csv"), sb.toString) }
      Files.writeString(Paths.get(s"$dir/replay_q18.csv"),
        exp.q18.toSeq.sorted.map { case (t, n) => s"$t,$n" }.mkString("tile_id,rows\n", "\n", "\n"))
      def engine(q: String): Fingerprint = {
        val df = SparkEntry.queries(q)(spark, dir)
        val fp = PerfBench.fingerprintCols(df)
        val r = df.agg(fp.head, fp.tail: _*).head()
        Fingerprint(r.getLong(0), r.getLong(1), r.getLong(2))
      }
      val lineage = SparkEntry.queries("q18_lineage_tiles")(spark, dir).collect()
        .map(x => x.getString(0) -> x.getLong(1)).toMap
      val (files, groups) = DocsGen.layoutOf(spark, dir)
      summary.put(name, Map[String, Any](
        "seed" -> seed, "files" -> files, "row_groups" -> groups,
        "q16_replay" -> exp.q16.toString, "q16_engine" -> engine("q16_docs_pip").toString,
        "q17_replay" -> exp.q17.toString, "q17_engine" -> engine("q17_span_tiles").toString,
        "q18_engine_matches_replay" -> (lineage == exp.q18)).map { case (k, v) => k -> v.asInstanceOf[AnyRef] }.asJava)
    }
    summary.put("oracle", SparkEntry.oracleSql.filter { case (k, _) =>
      Set("q16_docs_pip", "q17_span_tiles", "q18_lineage_tiles")(k) }.asJava)
    new com.fasterxml.jackson.databind.ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValue(new java.io.File(s"$out/summary.json"), summary)
    spark.stop()
  }
}
