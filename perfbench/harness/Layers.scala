package perfbench

import java.util.{LinkedHashMap => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced window, per measured pass. */
object Layers {

  /** Length of the union of intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var a = -1L; var b = -1L
    iv.filter { case (x, y) => y > x }.sortBy(_._1).foreach { case (x, y) =>
      if (x > b) { if (b > a) total += b - a; a = x; b = y }
      else if (y > b) b = y
    }
    if (b > a) total += b - a
    total
  }

  /** `w` holds the traced passes only. */
  def fromTrace(t: Tracer, spans: Seq[Span], w: PerfBench.Window,
                out: mutable.Map[String, Double], rec: JMap[String, Object]): Unit = {
    val n = w.passes.size.toDouble
    val byId = spans.map(s => s.id -> s).toMap
    def under(s: Span, name: String): Boolean = {
      var p = byId.get(s.parent)
      while (p.isDefined) { if (p.get.name == name) return true; p = byId.get(p.get.parent) }
      false
    }
    def total(name: String): Double = spans.filter(_.name == name).map(_.durUs).sum / 1e6
    val jobs = spans.filter(_.name == "spark.job")
    val roots = spans.filter(_.parent == -1)
    out("api.build_s") = total("api.build") / n
    out("api.build_jobs") = jobs.count(under(_, "api.build")) / n
    out("catalyst.analysis_s") = total("catalyst.analysis") / n
    out("catalyst.optimize_s") = total("catalyst.optimization") / n
    out("catalyst.plan_s") = total("catalyst.planning") / n
    val qes = t.qes.asScala.toSeq
    out("catalyst.plan_nodes") = qes.map(_.planNodes).sum / n
    out("catalyst.codegen_fallback") = qes.map(_.fallbacks).sum / n
    out("spark.jobs") = t.jobs.size / n
    out("spark.stages") = t.stagesCompleted / n
    val tasks = t.tasks.asScala.toSeq
    out("spark.tasks") = tasks.size / n
    val jobsByOp = jobs.groupBy(_.op)
    out("spark.gap_s") = roots.map { r =>
      r.durUs - covered(jobsByOp.getOrElse(r.op, Nil).map(j => (j.startUs, j.endUs)))
    }.sum / 1e6 / n
    val taskS = tasks.map(_.runMs).sum / 1000.0
    out("spark.task_s") = taskS / n
    out("spark.util") = taskS / (w.passes.map(_.passS).sum * PerfBench.Cores)
    // worst stage's slowest task over its median task, among stages with
    // several tasks that carry at least 1% of the task time
    val stages = tasks.groupBy(x => (x.stage, x.attempt)).values
      .filter(ts => ts.size >= 2 && ts.map(_.runMs).sum >= 0.01 * taskS * 1000)
    out("spark.skew") = if (stages.isEmpty) 1.0 else stages.map { ts =>
      val rt = ts.map(_.runMs.toDouble)
      rt.max / math.max(1.0, PerfBench.median(rt))
    }.max
    out("spark.shuffle_write_mb") = tasks.map(_.shuffleWrite).sum / 1e6 / n
    out("spark.shuffle_read_mb") = tasks.map(_.shuffleRead).sum / 1e6 / n
    out("spark.spill_mb") = tasks.map(_.spill).sum / 1e6 / n
    out("spark.task_gc_s") = tasks.map(_.gcMs).sum / 1000.0 / n
    // wall per query module (suite), per pass
    val modules = roots.groupBy(r => PerfBench.moduleOf(r.name))
      .map { case (m, rs) => s"api.${m}_s" -> Double.box(rs.map(_.durUs).sum / 1e6 / n) }
    rec.put("api_modules", modules.asJava)
  }
}
