package graft.catalog

import graft.SparkSpec
import graft.core.TableStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan

/** Storage-partitioned joins: two tables bucketed the same way on their
  * join key report `bucket(n, key)` KeyGroupedPartitioning, and Spark
  * plans the equi-join with ZERO shuffle — both sides' bucket groups line
  * up task for task (Iceberg's SPJ, the scale answer for repeated big
  * fact-fact joins).
  */
class SpjSpec extends SparkSpec {
  import spark.implicits._

  private def withCatalog(f: (TableStore, String) => Unit): Unit = {
    val wh = tmpDir("graft_spj")
    val cat = s"gspj${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    f(new TableStore(spark, wh), cat)
  }

  private def withSpjConf(f: => Unit): Unit =
    graft.GraftSession.withConf(spark,
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")(f)

  private def shuffles(plan: SparkPlan): Int = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case o => o.children.flatMap(nodes)
    })
    nodes(plan).count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
  }

  test("co-bucketed tables join with zero shuffle; results exact") {
    withCatalog { (store, cat) =>
      val left = (1 to 2000).map(i => (i.toLong, i * 2.0)).toDF("k", "lv")
      val right = (1 to 2000 by 2).map(i => (i.toLong, s"r$i")).toDF("k", "rv")
      store.commitBucketed("l", left, "k", numBuckets = 16, "create")
      store.commitBucketed("r", right, "k", numBuckets = 16, "create")
      withSpjConf {
        val joined = spark.sql(
          s"""SELECT l.k, l.lv, r.rv FROM $cat.ns.l l
             |JOIN $cat.ns.r r ON l.k = r.k""".stripMargin)
        val rows = joined.collect()
        assert(rows.length == 1000)
        assert(rows.map(_.getLong(0)).toSet == (1 to 2000 by 2).map(_.toLong).toSet)
        assert(shuffles(joined.queryExecution.executedPlan) == 0,
          s"expected a storage-partitioned join with no shuffle:\n" +
            joined.queryExecution.executedPlan)
      }
      // without the opt-in conf, the same join still works (shuffled)
      val plain = spark.sql(
        s"SELECT l.k FROM $cat.ns.l l JOIN $cat.ns.r r ON l.k = r.k")
      assert(plain.count() == 1000)
    }
  }

  test("a mixed-layout side (spec-less files) never claims co-partitioning") {
    withCatalog { (store, cat) =>
      val left = (1 to 100).map(i => (i.toLong, i * 1.0)).toDF("k", "lv")
      store.commitBucketed("l", left, "k", numBuckets = 8, "create")
      // an unbucketed append leaves files without bucket values
      store.append("l", Seq((1000L, 5.0, null.asInstanceOf[String]))
        .toDF("k", "lv", TableStore.bucketColumn("k", 8)).drop(
          TableStore.bucketColumn("k", 8)).limit(1))
      store.commitBucketed("r", left.withColumnRenamed("lv", "rv"), "k",
        numBuckets = 8, "create")
      withSpjConf {
        val joined = spark.sql(
          s"SELECT l.k FROM $cat.ns.l l JOIN $cat.ns.r r ON l.k = r.k")
        // correctness first: the join still returns exact rows (shuffled,
        // since l's layout can no longer be trusted bucket-for-bucket)
        assert(joined.count() == 100)
      }
    }
  }
}
