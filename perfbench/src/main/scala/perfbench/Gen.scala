package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a hash of (seed, salt, row id),
  * so one seed always yields the same rows and `--seed` is the only source
  * of variation; sizes are fixed per workload. Shapes follow the TPC-H-like
  * fixtures the engine's queries are written against (`lineitem`,
  * `orders`), with exact decimals for the money and quantity columns so
  * checksums compare exactly. */
object Gen {
  /** Uniform integer in [0, n) for the row keyed by `cols`. */
  def u(seed: Long, salt: Int, n: Long, cols: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: cols): _*), lit(n))

  /** `rows` line items, 4 per order, over `orders` orders and `suppliers`
    * suppliers, shipped across 24 months of 2020-2021. */
  def lineitem(spark: SparkSession, seed: Long, rows: Long, suppliers: Int): DataFrame = {
    val id = col("id")
    spark.range(rows).select(
      (id / 4 + 1).cast("long").as("l_orderkey"),
      (u(seed, 1, 2000, id) + 1).as("l_partkey"),
      (u(seed, 2, suppliers, id) + 1).as("l_suppkey"),
      (id % 4 + 1).cast("int").as("l_linenumber"),
      (u(seed, 3, 50, id) + 1).cast("decimal(12,2)").as("l_quantity"),
      (u(seed, 4, 10000000, id) / 100).cast("decimal(12,2)").as("l_extendedprice"),
      (u(seed, 5, 11, id) / 100).cast("decimal(4,2)").as("l_discount"),
      element_at(array(lit("A"), lit("N"), lit("R")), (u(seed, 6, 3, id) + 1).cast("int"))
        .as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (u(seed, 7, 2, id) + 1).cast("int"))
        .as("l_linestatus"),
      date_add(lit(java.sql.Date.valueOf("2020-01-01")), u(seed, 8, 730, id).cast("int"))
        .as("l_shipdate"))
  }

  def orders(spark: SparkSession, seed: Long, n: Long, customers: Int): DataFrame =
    spark.range(1, n + 1).select(
      col("id").as("o_orderkey"),
      (u(seed, 11, customers, col("id")) + 1).as("o_custkey"),
      (u(seed, 12, 100000, col("id")) / 100).cast("decimal(12,2)").as("o_totalprice"))

  /** Bytes of every regular file under `p`. */
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum
      finally s.close()
    }

  def fileCount(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count(Files.isRegularFile(_)).toLong
      finally s.close()
    }

  /** Bytes of the data and delete files the current snapshot references. */
  def liveBytes(store: graft.core.TableStore, table: String, tableDir: Path): Long = {
    val m = store.manifests(table).maxBy(_.version)
    (m.files.map(_.path) ++ m.deleteFiles.map(_.path)).distinct
      .map(p => tableDir.resolve(p)).filter(Files.exists(_)).map(Files.size(_)).sum
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally s.close()
    }

  /** Order-independent checksum of a frame: row count, the sum of a
    * per-row hash reduced modulo a prime (so the sum cannot overflow), and
    * the exact sums of the decimal columns `exact`, in one pass. Equal
    * frames give equal checksums. */
  def checksum(df: DataFrame, exact: Seq[String] = Nil): Seq[Any] = {
    val h = pmod(xxhash64(df.columns.map(col).toSeq: _*), lit(1000000007L))
    df.agg(count(lit(1)), (coalesce(sum(h), lit(0L)) +: exact.map(c => sum(col(c)))): _*)
      .head.toSeq
  }
}
