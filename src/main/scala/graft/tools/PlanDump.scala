package graft.tools
import graft.SparkEntry

/** Writes the FULL `.explain("formatted")` text of named queries to
  * `plans/<tag>/<query>_<suffix>.txt` — the before/after plan evidence
  * for optimization rounds. PLAN_QUERIES = comma list or "all";
  * PLAN_TAG = subdirectory (default r09); PLAN_SUFFIX = before|after.
  * benchOnly variants are resolvable too. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val tag = sys.env.getOrElse("PLAN_TAG", "r09")
    val suffix = sys.env.getOrElse("PLAN_SUFFIX", "before")
    val all = SparkEntry.queries ++ SparkEntry.benchOnly
    val requested = sys.env.get("PLAN_QUERIES") match {
      case Some("all") => all.keys.toSeq.sorted
      case Some(s) => s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case None => Seq.empty
    }
    val outDir = java.nio.file.Paths.get("plans", tag)
    java.nio.file.Files.createDirectories(outDir)
    for (q <- requested) all.get(q) match {
      case None => println(s"[plandump] $q UNKNOWN")
      case Some(fn) =>
        try {
          val df = fn(spark, dir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            outDir.resolve(s"${q}_$suffix.txt"), txt)
          println(s"[plandump] wrote ${q}_$suffix.txt (${txt.length} chars)")
        } catch { case scala.util.control.NonFatal(e) =>
          println(s"[plandump] $q FAILED: ${e.getMessage}")
        } finally {
          graft.core.Intermediates.release()
          spark.sqlContext.clearCache()
        }
    }
    spark.stop()
  }
}
