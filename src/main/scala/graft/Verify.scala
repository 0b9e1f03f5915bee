package graft
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val spark = Bench.session()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Delete each query's previous output BEFORE running it: a failure
    // that fires before the write executes must leave NO output behind,
    // or a reused outDir would let the compare pass on stale results.
    def deleteRecursively(f: java.io.File): Unit = {
      // listFiles() returns null on I/O error — warn, or one bad dir NPEs
      // the whole verify run; a SILENT skip would leave stale output behind,
      // which is exactly the stale-results-pass-compare hazard above
      if (f.isDirectory) {
        val children = f.listFiles()
        if (children == null)
          System.err.println(s"[verify] WARNING: cannot list $f — stale children may survive")
        Option(children).getOrElse(Array.empty[java.io.File]).foreach(deleteRecursively)
      }
      if (!f.delete() && f.exists())
        System.err.println(s"[verify] WARNING: could not delete stale $f")
    }
    // optional 3rd arg (local dev only): comma-separated query-name prefixes
    Bench.selected(Bench.prefixes(args, at = 2)).foreach { case (name, fn) =>
      deleteRecursively(new java.io.File(s"$outDir/$name"))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Jackson escapes backslash, quote and ALL control chars (<0x20) — a
    // tab or CR in an oracle query must not make the compare's json.load
    // (tools/compare.py) fail and silently zero the correctness check.
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      new ObjectMapper().writeValueAsString(SparkEntry.oracleSql.asJava))
    spark.stop()
  }
}
