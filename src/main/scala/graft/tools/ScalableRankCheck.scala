package graft.tools
import org.apache.spark.sql.SparkSession
import graft.SparkEntry
object ScalableRankCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder("4", "graft-scalable-rank-check")
      // force EVERY evaluation through the range-rank kernel; q55, q177
      // and q242 reach the same kernel through rangePartitionedRank,
      // Ids.surrogateMapping and Metrics.activityConcentration
      .config("graft.rank.rangeThreshold", "1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = args(1)
    Seq("q01_linear", "q06_formula_minmax", "q10_multi_criteria",
      "q20_staged_threshold", "q21_staged_topn_include", "q23_staged_weighted",
      "q55_scalable_rank", "q177_surrogate_id_chain", "q242_activity_gini")
      .foreach { name =>
        SparkEntry.queries(name)(spark, args(0)).coalesce(1)
          .write.mode("overwrite").parquet(s"$out/$name")
      }
    // oracle_sql.json for the checker
    val q = (s: String) => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n") + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"), json)
    spark.stop()
  }
}
