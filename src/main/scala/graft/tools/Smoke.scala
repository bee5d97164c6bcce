package graft.tools

import org.apache.spark.sql.SparkSession

/** Mirrors the driver's t1 smoke: SparkEntry.entry(spark) must return >0
  * rows on sf0.001 under a session the driver would build (no extensions).
  * The only main that does not use [[graft.GraftSession]]: its bare,
  * extension-less builder is the point of the check. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val n = graft.SparkEntry.entry(spark).count()
    println(s"[smoke] entry rows=$n ${if (n > 0) "OK" else "FAIL"}")
    spark.stop()
    if (n == 0) sys.exit(1)
  }
}
