package perfbench

import java.nio.file.{Files, Path}

import graft.ext.LinkAnalysis
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The `ext` layer as a benchmark op: the graph fixpoint
  * `LinkAnalysis.pageRank` on the customer–supplier trade graph of a seeded
  * `lineitem ⋈ orders` sample, in the exact shape of q151. The inputs are
  * plain Parquet, so the table layer is idle. The first result is written
  * out and checked against q151's oracle SQL, which DuckDB runs after the
  * JVM exits. */
final class ExtOps(spark: SparkSession, seed: Long) {
  private val lineitems = 4000L
  private val Query = "q151_link_authority"
  private var dir: Path = _
  private var li: DataFrame = _
  private var ord: DataFrame = _
  private var written = false

  def setup(d: Path): Unit = {
    dir = d
    def put(name: String, df: DataFrame): DataFrame = {
      val p = d.resolve("in").resolve(s"$name.parquet").toString
      df.coalesce(1).write.parquet(p)
      spark.read.parquet(p)
    }
    li = put("lineitem", Gen.lineitem(spark, seed, lineitems, suppliers = 40))
    ord = put("orders", Gen.orders(spark, seed, lineitems / 4, customers = 600))
  }

  /** q151's bidirectional customer–supplier edge list, ranked. */
  private def pageRank: DataFrame = {
    val pairs = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .groupBy(
        concat(lit("c"), col("o_custkey").cast("string")).as("src"),
        concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
      .agg(count(lit(1)).as("w"))
    val edges = pairs.unionByName(pairs.select(col("dst").as("src"), col("src").as("dst"),
      col("w")))
    LinkAnalysis.pageRank(edges, "src", "dst", "w", iterations = 5)
  }

  /** One call, as a closed-loop op in request `group`. */
  def run(rec: Recorder, group: String): Unit = {
    var rows: Array[Row] = null
    var schema: org.apache.spark.sql.types.StructType = null
    rec.op("ext.page_rank", lineitems, group) {
      rows = Trace.span("ext", "page_rank") {
        val ranked = pageRank
        schema = ranked.schema
        ranked.collect()
      }
    }
    if (rows != null && !written) {
      written = true
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(dir.resolve("out").resolve(Query).toString)
    }
  }

  /** Records where the inputs, result and oracle SQL are, for the DuckDB
    * check. */
  def writeOracleSpec(to: Path): Unit = {
    val oracle = if (written) Seq(Query -> Json.str(graft.SparkEntry.oracleSql(Query))) else Nil
    val text = Json.obj(Seq(
      "inputs" -> Json.str(dir.resolve("in").toString),
      "results" -> Json.str(dir.resolve("out").toString),
      "oracle" -> Json.obj(oracle)))
    Files.write(to, text.getBytes("UTF-8"))
  }
}
