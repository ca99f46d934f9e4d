package graft.tools
import org.apache.spark.sql.SparkSession

/** Ad-hoc single-query timing harness (dev tool): runs the named
  * SparkEntry queries (default: q_fit_tree) with one warmup pass and
  * two timed passes — the same steady-state protocol as [[Bench]],
  * without paying for the full suite while iterating on one operator.
  * Per-level cost is in the Spark job descriptions the fit loop sets
  * (`"<family> level=<n> …"`). */
object FitProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val names = args.toSeq match {
      case Seq() => Seq("q_fit_tree")
      case some => some
    }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      fn(spark, sfDir).count() // warmup
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        println(f"[profile] $name run $i: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
    }
    spark.stop()
  }
}
