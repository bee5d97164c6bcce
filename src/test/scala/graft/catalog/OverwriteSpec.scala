package graft.catalog

import graft.SparkSpec
import graft.core.TableStore

/** Partition-level `INSERT OVERWRITE` (Iceberg's overwrite semantics):
  * dynamic mode replaces exactly the partitions the query writes; a static
  * `PARTITION (k = 'x')` clause replaces exactly that partition; both are
  * metadata-only kept-file decisions over the manifest. Filters that can't
  * pin whole identity partitions are refused, never approximated.
  */
class OverwriteSpec extends SparkSpec {
  import spark.implicits._

  private def withCatalog(f: (TableStore, String) => Unit): Unit = {
    val wh = tmpDir("graft_ovw")
    val cat = s"govw${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    f(new TableStore(spark, wh), cat)
  }

  private def withMode(mode: String)(f: => Unit): Unit =
    graft.GraftSession.withConf(spark,
      "spark.sql.sources.partitionOverwriteMode" -> mode)(f)

  test("dynamic overwrite replaces only the partitions the query writes") {
    withCatalog { (store, cat) =>
      spark.sql(s"CREATE TABLE $cat.ns.t (id BIGINT, k STRING) PARTITIONED BY (k)")
      spark.sql(s"INSERT INTO $cat.ns.t VALUES (1, 'x'), (2, 'y'), (3, 'z')")
      withMode("dynamic") {
        spark.sql(s"INSERT OVERWRITE $cat.ns.t VALUES (10, 'x'), (11, 'x')")
      }
      assert(spark.table(s"$cat.ns.t").as[(Long, String)].collect().toSet ==
        Set((10L, "x"), (11L, "x"), (2L, "y"), (3L, "z")))
      // untouched partitions kept their ORIGINAL files (metadata-only keep)
      val byVersion = store.manifests("t").sortBy(_.version)
      val beforeY = byVersion(1).files.filter(_.partitionValues.get("k").contains("y"))
      val afterY = byVersion.last.files.filter(_.partitionValues.get("k").contains("y"))
      assert(beforeY.map(_.path).toSet == afterY.map(_.path).toSet)
      assert(byVersion.last.operation == "overwrite_dynamic")
    }
  }

  test("static PARTITION (k = ...) overwrite replaces exactly that partition") {
    withCatalog { (store, cat) =>
      spark.sql(s"CREATE TABLE $cat.ns.t (id BIGINT, k STRING) PARTITIONED BY (k)")
      spark.sql(s"INSERT INTO $cat.ns.t VALUES (1, 'x'), (2, 'y'), (3, 'z')")
      spark.sql(s"INSERT OVERWRITE $cat.ns.t PARTITION (k = 'y') VALUES (20), (21)")
      assert(spark.table(s"$cat.ns.t").as[(Long, String)].collect().toSet ==
        Set((1L, "x"), (20L, "y"), (21L, "y"), (3L, "z")))
      assert(store.manifests("t").maxBy(_.version).operation == "overwrite_where")
    }
  }

  test("overwrite without a partition spec still truncates; dynamic on an " +
      "unpartitioned table replaces the whole table") {
    withCatalog { (_, cat) =>
      spark.sql(s"CREATE TABLE $cat.ns.u (id BIGINT, k STRING)")
      spark.sql(s"INSERT INTO $cat.ns.u VALUES (1, 'x'), (2, 'y')")
      spark.sql(s"INSERT OVERWRITE $cat.ns.u VALUES (9, 'z')")
      assert(spark.table(s"$cat.ns.u").as[(Long, String)].collect().toSet ==
        Set((9L, "z")))
      withMode("dynamic") {
        spark.sql(s"INSERT OVERWRITE $cat.ns.u VALUES (7, 'w')")
      }
      assert(spark.table(s"$cat.ns.u").as[(Long, String)].collect().toSet ==
        Set((7L, "w")))
    }
  }

  test("a non-partition overwrite filter is refused, not approximated") {
    withCatalog { (_, cat) =>
      spark.sql(s"CREATE TABLE $cat.ns.t (id BIGINT, k STRING) PARTITIONED BY (k)")
      spark.sql(s"INSERT INTO $cat.ns.t VALUES (1, 'x'), (2, 'y')")
      val e = intercept[Exception] {
        spark.sql(s"INSERT OVERWRITE $cat.ns.t (id, k) " +
          s"REPLACE WHERE id = 1 VALUES (10, 'x')")
      }
      assert(e.getMessage.contains("partition column") ||
        e.getMessage.contains("REPLACE WHERE") ||
        e.getMessage.contains("not an identity partition"))
    }
  }
}
