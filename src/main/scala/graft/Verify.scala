package graft
import com.fasterxml.jackson.databind.ObjectMapper
import java.io.File
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.create(s"local[$cpus]", cpus.toInt)()
    new File(outDir).mkdirs()
    // Optional comma-separated filter for targeted re-verification while
    // iterating (the driver never sets it — full dump by default).
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(',').map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    new ObjectMapper().writeValue(new File(s"$outDir/oracle_sql.json"), SparkEntry.oracleSql.asJava)
    spark.stop()
  }
}
