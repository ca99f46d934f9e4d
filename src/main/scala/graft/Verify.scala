package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.ts is TIMESTAMP(NANOS) parquet, which Spark 4 rejects;
      // read as LongType ns (Sessionize converts exactly)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // generated methods past the JIT's 8000-byte compile cutoff run
      // in the JVM bytecode interpreter — slower than Spark's own
      // interpreted expressions. Fall back at that threshold instead
      // of the 64KB class-format limit: measured 4x on the 5-member
      // fractional-forest serving span (20s -> 4.6s at sf0.1), zero
      // effect on normally-sized spans
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      // generated-class cache sized to the full query suite (static
      // conf, default 100): the verify pass runs 197 queries, many
      // sharing fit/serve plans — see Bench.scala's rationale
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "20000"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q_a,q_b dumps just those queries (dev loop —
    // same switch Bench honors); the driver runs unfiltered
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // every query that throws is named on stderr and fails the run
    // (after the remaining queries and the oracle file are written)
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
      }
      // queries are self-contained; dropping their unmanaged pipeline
      // caches (CacheScope scaladoc) between queries keeps the 67-query
      // session's block manager flat at any scale factor
      finally spark.catalog.clearCache()
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
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
