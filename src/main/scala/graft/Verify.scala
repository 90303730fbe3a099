package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the protocol overrides below are set after the shared settings
    // (SPARK_GRAFT_EXTRA_CONF included), so they win
    val builder = Sessions.builder(cpus)
    // SPARK_GRAFT_ANSI=true/false pins throw-vs-null dialect for the
    // sweep BASELINE.md records (SURVEY §7.3's named trap); unset keeps
    // the session default, printed either way so every recorded run
    // states its dialect
    sys.env.get("SPARK_GRAFT_ANSI")
      .foreach(v => builder.config("spark.sql.ansi.enabled", v))
    // SPARK_GRAFT_AQE=false runs the whole surface with adaptive
    // execution OFF — the static-plan robustness sweep (results must be
    // invariant to runtime re-planning, coalescing and skew splits, the
    // same way they are invariant to the partition layout)
    sys.env.get("SPARK_GRAFT_AQE")
      .foreach(v => builder.config("spark.sql.adaptive.enabled", v))
    // SPARK_GRAFT_CODEGEN=false runs the whole surface INTERPRETED
    // (whole-stage codegen off AND the expression factory pinned to
    // NO_CODEGEN): every custom Expression's eval() path must produce
    // the bits its doGenCode() produces — the codegen-consistency
    // sweep, whole-surface where ExpressionSpec checks per-expression
    sys.env.get("SPARK_GRAFT_CODEGEN").filter(_ == "false").foreach { _ =>
      builder.config("spark.sql.codegen.wholeStage", "false")
      builder.config("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    System.err.println(
      s"[verify] spark.sql.ansi.enabled=${spark.conf.get("spark.sql.ansi.enabled")}" +
      s" adaptive=${spark.conf.get("spark.sql.adaptive.enabled")}" +
      s" wholeStageCodegen=${spark.conf.get("spark.sql.codegen.wholeStage")}")
    new java.io.File(outDir).mkdirs()
    // local-iteration filter (comma-separated names); driver leaves it unset.
    // An empty or misspelled filter must FAIL, not silently verify nothing.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(names.nonEmpty && unknown.isEmpty,
        s"SPARK_GRAFT_ONLY selects no valid queries (unknown: ${unknown.mkString(",")})")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // drop operator-internal caches between queries: the 143-query run
      // would otherwise accumulate posting/survivor frames all session
      GraftConf.releaseCaches()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
