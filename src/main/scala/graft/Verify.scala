package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing args: restrict to the named queries (dev-only
    // focused repro; the driver always passes exactly two args)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt)
    new java.io.File(outDir).mkdirs()
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete(): Unit
    }
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      val target = new java.io.File(s"$outDir/$name")
      // pre-delete: a failure must never leave a previous run's result
      // in place for the driver's compare to validate as current
      deleteRec(target)
      // repartition(1), not coalesce(1): coalesce would collapse the
      // whole final stage (windows, aggs) into one task; repartition
      // keeps upstream parallelism and only serializes the file write
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        deleteRec(target)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries that persist intermediates (q17/q32) must not hold
      // executor storage under the remaining queries — release through
      // the library's lifecycle API (clearCache would work too, but
      // would also evict an embedding application's own caches)
      CacheScope.releaseAll(spark): Unit
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    spark.stop()
  }

  /** The registry's oracle map as the JSON the driver consumes — also
    * what OracleSpec feeds straight to DuckDB inside `sbt test`, so
    * oracle rot surfaces before the round gate does. */
  def oracleJson: String = {
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
    SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
