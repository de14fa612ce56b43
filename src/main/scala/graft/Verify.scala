package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query-name filter]
    if (args.length < 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [name1,name2,...]")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", graft.queries.RelationalQueries.warehouseDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // NonFatal: a failed query is reported and the dump goes on; a fatal
    // JVM error (OOM, linkage) ends the run instead of dumping the rest
    // from a damaged JVM
    val selected = SparkEntry.queries.filter { case (name, _) => only.forall(_.contains(name)) }
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // leftover caches + localCheckpoint blocks from one query must not
      // accumulate across the other ~60
      SessionHygiene.sweep(spark)
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
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    System.err.println(
      if (failed.isEmpty) s"[verify] all ${selected.size} queries written"
      else s"[verify] ${failed.size} of ${selected.size} queries FAILED: ${failed.sorted.mkString(", ")}")
    spark.stop()
  }
}
