package graft.catalog

import graft.GraftSession.withConf
import graft.SparkSpec
import graft.core.TableStore
import org.apache.spark.sql.functions._

/** `CLUSTER BY` DDL — the liquid-clustering shape: cluster keys map to
  * the store's WRITE ORDER, so every data commit range-clusters + sorts
  * and files carry narrow disjoint min/max ranges on the keys; filters
  * on the cluster keys then prune files from stats alone. No directory
  * partitioning involved (and none of its small-partition explosion). */
class ClusterBySpec extends SparkSpec {
  import spark.implicits._

  private def freshCat(): (String, String, TableStore) = {
    val wh = tmpDir("clby")
    val cat = s"gcb${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (wh, cat, new TableStore(spark, wh))
  }

  test("CREATE TABLE CLUSTER BY declares the write order; SQL INSERT sorts") {
    val (_, cat, store) = freshCat()
    spark.sql(s"CREATE TABLE $cat.ns.t (k BIGINT, v STRING) USING graft " +
      "CLUSTER BY (k)")
    assert(store.writeOrderOf("t") == Seq("k"))
    spark.range(0, 10000).select(col("id").as("k"),
        concat(lit("v"), col("id")).as("v"))
      .repartition(8) // deliberately scrambled input
      .createOrReplaceTempView("cb_src")
    // pin the range shuffle at 4 output partitions (AQE would coalesce
    // this tiny write to one) so the multi-file layout is observable
    withConf(spark, "spark.sql.adaptive.coalescePartitions.enabled" -> "false")(
      spark.sql(s"INSERT INTO $cat.ns.t SELECT * FROM cb_src"))
    val m = store.manifests("t").maxBy(_.version)
    val ranges = m.files.flatMap(_.stats.get("k"))
      .map(cs => (cs.min.toLong, cs.max.toLong)).sortBy(_._1)
    assert(ranges.size > 1, "expect several range-clustered files")
    // disjoint narrow ranges: each file's max < next file's min
    ranges.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) =>
        assert(aMax <= bMin, s"file ranges overlap: $ranges")
      case _ =>
    }
    // stats skipping: a point lookup reads a strict subset of files
    val hit = m.files.count(_.stats.get("k").exists(cs =>
      cs.min.toLong <= 7777L && 7777L <= cs.max.toLong))
    assert(hit < m.files.size)
    assert(spark.sql(s"SELECT v FROM $cat.ns.t WHERE k = 7777")
      .as[String].head() == "v7777")
  }

  test("ALTER TABLE CLUSTER BY redeclares; CLUSTER BY NONE clears") {
    val (_, cat, store) = freshCat()
    store.commit("t", Seq((1L, "a")).toDF("k", "v"), "create")
    spark.sql(s"ALTER TABLE $cat.ns.t CLUSTER BY (v)")
    assert(store.writeOrderOf("t") == Seq("v"))
    spark.sql(s"ALTER TABLE $cat.ns.t CLUSTER BY NONE")
    assert(store.writeOrderOf("t").isEmpty)
  }

  test("CTAS with CLUSTER BY lands sorted files in the one create commit") {
    val (_, cat, store) = freshCat()
    spark.range(0, 5000).select((col("id") * 17 % 5000).as("k"),
        col("id").as("v"))
      .repartition(6).createOrReplaceTempView("cb_src2")
    withConf(spark, "spark.sql.adaptive.coalescePartitions.enabled" -> "false")(
      spark.sql(s"CREATE TABLE $cat.ns.t USING graft CLUSTER BY (k) " +
        "AS SELECT * FROM cb_src2"))
    val m = store.manifests("t").maxBy(_.version)
    assert(store.manifests("t").map(_.operation) == Seq("create"))
    assert(m.writeOrder == Seq("k"))
    val ranges = m.files.flatMap(_.stats.get("k"))
      .map(cs => (cs.min.toLong, cs.max.toLong)).sortBy(_._1)
    assert(ranges.size > 1)
    ranges.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) => assert(aMax <= bMin)
      case _ =>
    }
    assert(spark.table(s"$cat.ns.t").count() == 5000)
  }
}
