package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each gate's result → parquet, plus its
  * oracle SQL in oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: name substrings for a targeted run (local
    // iteration; the driver always passes exactly two args)
    val wanted = args.drop(2)
    def selected(name: String): Boolean =
      wanted.isEmpty || wanted.exists(name.contains)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
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
    val json = SparkEntry.gates.filter(g => selected(g.name)).map { g =>
      spark.sparkContext.setJobDescription(s"verify: ${g.name}")
      try {
        val df = g.build(spark, sfDir)
        try df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/${g.name}")
        finally df.unpersist(true) // a materialized result is the gate's only cache
      } catch { case e: Throwable =>
        System.err.println(s"[verify] ${g.name} failed: ${e.getMessage}")
      }
      s"${q(g.name)}: ${q(g.oracle)}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
