package c45bench

import org.apache.spark.sql.SparkSession

object TestSession {
  lazy val spark: SparkSession = Main.session(Seq(
    "spark.master" -> "local[2]",
    "spark.sql.shuffle.partitions" -> "2",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false"))
}
