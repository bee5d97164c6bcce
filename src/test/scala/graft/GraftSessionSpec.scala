package graft

import org.apache.spark.network.util.JavaUtils

/** The shared test session is built by [[GraftSession]], so the specs run
  * the config the bench runs; and [[GraftSession.withConf]] restores it. */
class GraftSessionSpec extends SparkSpec {

  private def bytes(key: String): Long = JavaUtils.byteStringAsBytes(spark.conf.get(key))

  test("the shared test session carries the bench's session config") {
    assert(bytes("spark.sql.autoBroadcastJoinThreshold") == 64L * 1024 * 1024)
    assert(bytes("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold") ==
      256L * 1024 * 1024)
    assert(bytes("spark.sql.files.maxPartitionBytes") == 32L * 1024 * 1024)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    // GraftExtensions: an injected function and an injected analyzer rule
    assert(spark.sql("SELECT vector_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .head().getDouble(0) == 11.0)
    val rules = spark.sessionState.analyzer.extendedResolutionRules.map(_.ruleName)
    assert(rules.exists(_.endsWith("GraftGeneratedRule")), rules.mkString(", "))
  }

  test("withConf restores each key's previous value, or unsets it") {
    val set = "spark.sql.autoBroadcastJoinThreshold"
    val unset = "spark.graft.test.scratchKey"
    val before = spark.conf.get(set)
    val seen = GraftSession.withConf(spark, set -> "-1", unset -> "x") {
      (spark.conf.get(set), spark.conf.get(unset))
    }
    assert(seen == (("-1", "x")))
    assert(spark.conf.get(set) == before)
    assert(spark.conf.getOption(unset).isEmpty)
    intercept[IllegalStateException] {
      GraftSession.withConf(spark, set -> "1m")(throw new IllegalStateException)
    }
    assert(spark.conf.get(set) == before)
  }
}
