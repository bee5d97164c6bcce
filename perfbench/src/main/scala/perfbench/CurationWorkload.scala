package perfbench

import java.nio.file.{Files, Path}

import graft.core.TableStore
import graft.curation.Scd2
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `curation`: the reference's primary axis as a closed loop with one
  * client. A cycle is one `Scd2.bulkInsert` plus the 16 cells
  * {scd2_simple, scd2_complex, upsert_mor, cdc_mor} × p ∈ {0.001, 0.01,
  * 0.1, 0.99}; every cell merges a pre-generated update batch into the
  * same base snapshot, which is rolled back (and the merge's files expired)
  * outside the op's time. Base: `lineitem` rows plus CDC columns
  * (`pk = md5(l_orderkey-l_linenumber)`, extraction timestamp, op). */
final class CurationWorkload(spark: SparkSession, seed: Long) extends Workload {
  private val rows = 20000L
  private val Table = "lineitem_scd2"
  private val props = Seq(0.001, 0.01, 0.1, 0.99)
  private val cases = Seq("scd2_simple", "scd2_complex", "upsert_mor", "cdc_mor")
  private val checkAt = 0.1
  /** Nominal seconds of one cycle on a 4-core host (11-15 s measured). */
  private val CycleS = 11.0

  private var dir: Path = _
  private var store: TableStore = _
  private var base: DataFrame = _
  private var baseVersion = 0L
  private var baseFiles = Set.empty[String]
  private var deltas = Map.empty[Double, (DataFrame, Long, Long)] // frame, rows, bytes
  private var cycles = 0

  private def tableDir = dir.resolve("wh").resolve(Table)

  def setup(d: Path): Unit = {
    if (dir != null) Gen.deleteRecursively(dir)
    dir = d
    Files.createDirectories(d)
    val raw = Gen.lineitem(spark, seed, rows, suppliers = 100)
      .withColumn("extraction_timestamp", to_timestamp(lit("2022-01-01")))
      .withColumn("op", lit("I"))
      .withColumn("pk", md5(concat_ws("-", col("l_orderkey"), col("l_linenumber"))))
    raw.coalesce(2).write.parquet(d.resolve("base").toString)
    base = spark.read.parquet(d.resolve("base").toString)
    // update_tpcds.py's update batch: a sample at proportion p, quantity
    // reset to 1, op 'U', next-day extraction timestamp; cdc_mor marks
    // about 10% of each batch as deletes.
    deltas = props.zipWithIndex.map { case (p, i) =>
      val path = d.resolve(s"delta-$i")
      base.filter(Gen.u(seed, 40 + i, 1000000L, col("pk")) < lit(math.round(p * 1000000L)))
        .withColumn("extraction_timestamp", to_timestamp(lit("2022-01-02")))
        .withColumn("op", lit("U"))
        .withColumn("l_quantity", lit(1).cast("decimal(12,2)"))
        .coalesce(1).write.parquet(path.toString)
      val df = spark.read.parquet(path.toString)
      p -> (df, df.count(), Gen.dirBytes(path))
    }.toMap
    store = new TableStore(spark, d.resolve("wh").toString)
    Scd2.bulkInsert(store, Table, base)
    baseVersion = store.currentVersion(Table)
    baseFiles = store.manifests(Table).maxBy(_.version).files.map(_.path).toSet
  }

  /** An unrecorded cycle at p = `checkAt`, so every cell kind's code is
    * compiled before the window opens; its cells are checked (the measured
    * cycles repeat the same calls on the same inputs and base). */
  def warm(rec: Recorder): Unit = {
    val scratch = new Recorder
    cycle(scratch, Seq(checkAt), check = Some(rec))
    scratch.ops.filterNot(_.ok).foreach(o => rec.check(s"curation.warm.${o.kind}")(Some("op failed")))
  }

  private def cdcFrame(delta: DataFrame): DataFrame =
    delta.withColumn("_deleted", Gen.u(seed, 50, 10, col("pk")) === 0)

  private def runCase(uc: String, delta: DataFrame): Unit = uc match {
    case "scd2_simple" => Trace.span("curation", "scd2_simple")(Scd2.scd2Simple(store, Table, delta))
    case "scd2_complex" => Trace.span("curation", "scd2_complex")(Scd2.scd2Complex(store, Table, delta))
    case "upsert_mor" => Trace.span("core.merge", "upsert_mor")(store.upsertMoR(Table, delta, Seq("pk")))
    case "cdc_mor" => Trace.span("core.merge", "cdc_mor")(
      store.applyCdcMoR(Table, cdcFrame(delta), Seq("pk"), "_deleted"))
  }

  private def resetToBase(): Unit = {
    baseVersion = Trace.span("core.snapshot", "rollbackTo")(store.rollbackTo(Table, baseVersion))
    Trace.span("core.maintenance", "expireSnapshots")(store.expireSnapshots(Table, keepLast = 1))
  }

  /** One bulk insert, then every cell at each proportion in `ps`. The four
    * cells at one proportion form one request for the latency percentiles:
    * curating one update batch every way. The cells at p = `checkAt` are
    * checked into `check`, if given. */
  private def cycle(rec: Recorder, ps: Seq[Double], check: Option[Recorder] = None): Unit = {
    cycles += 1
    rec.op("bulk_insert", rows) {
      Trace.span("curation", "bulk_insert")(Scd2.bulkInsert(store, "bulk", base))
    }
    store.drop("bulk")
    for (p <- ps; uc <- cases) {
      val (delta, dRows, dBytes) = deltas(p)
      val before = Gen.dirBytes(tableDir)
      val manifestsBefore = Gen.dirBytes(tableDir.resolve("_manifests"))
      val v0 = store.currentVersion(Table)
      val ok = rec.op(s"$uc@$p", dRows, group = s"$cycles@$p")(runCase(uc, delta))
      rec.addFact("user_bytes", dBytes.toDouble)
      rec.addFact("table_bytes_written", (Gen.dirBytes(tableDir) - before).toDouble)
      if (Trace.on) {
        Counters.add("core.commit.count", (store.currentVersion(Table) - v0).toDouble)
        Counters.add("core.commit.manifest_bytes",
          (Gen.dirBytes(tableDir.resolve("_manifests")) - manifestsBefore).toDouble)
      }
      if (ok && Trace.on) {
        val m = store.manifests(Table).maxBy(_.version)
        val rewritten = m.files.filterNot(f => baseFiles.contains(f.path)).map(_.rowCount).sum
        Counters.add("core.merge.rows_rewritten", rewritten.toDouble)
        Counters.add("core.merge.delta_rows", dRows.toDouble)
        Counters.add("core.commit.files_added",
          (m.files.count(f => !baseFiles.contains(f.path)) + m.deleteFiles.size).toDouble)
      }
      if (ok && p == checkAt) check.foreach(checkCell(_, uc, delta))
      resetToBase()
    }
  }

  /** As many whole cycles as fit `seconds` at [[CycleS]] each, at least
    * one: every run does the same work whatever the host's speed, so a slow
    * run does not also get fewer samples. */
  def measure(seconds: Double, rec: Recorder): Unit =
    (1 to math.max(1, math.round(seconds / CycleS).toInt)).foreach(_ => cycle(rec, props))

  private val payload = Seq("pk", "l_orderkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "extraction_timestamp")

  /** The merged state checked against an expected state built with plain
    * DataFrame operations, plus the SCD2 invariants for the SCD2 cases. */
  private def checkCell(rec: Recorder, uc: String, delta: DataFrame): Unit = {
    val got = store.read(Table)
    val keys = delta.select(col("pk"))
    val untouched = base.join(keys, Seq("pk"), "left_anti")
    val sentinel = to_timestamp(lit(Scd2.SentinelTs))
    val scd2Cols = Seq("start_datetime", "end_datetime", "is_current")
    val (expected, cols) = uc match {
      case "scd2_simple" | "scd2_complex" =>
        val closed = base.join(keys, Seq("pk"), "left_semi")
          .withColumn("start_datetime", col("extraction_timestamp"))
          .withColumn("end_datetime", to_timestamp(lit("2022-01-02")))
          .withColumn("is_current", lit(false))
        val current = untouched.unionByName(delta)
          .withColumn("start_datetime", col("extraction_timestamp"))
          .withColumn("end_datetime", sentinel)
          .withColumn("is_current", lit(true))
        (current.unionByName(closed), payload ++ scd2Cols)
      case "upsert_mor" => (untouched.unionByName(delta), payload)
      case "cdc_mor" =>
        (untouched.unionByName(cdcFrame(delta).filter(!col("_deleted")).drop("_deleted")), payload)
    }
    val pick = (df: DataFrame) => df.select(cols.map(col): _*)
    rec.check(s"curation.$uc.checksum") {
      val exact = Seq("l_quantity", "l_extendedprice")
      val (g, e) = (Gen.checksum(pick(got), exact), Gen.checksum(pick(expected), exact))
      if (g != e) Some(s"rows/hash/decimal sums $g != expected $e") else None
    }
    if (uc.startsWith("scd2")) {
      // both invariants from one pass: per key, its current rows and the
      // rows whose interval is empty or runs past the next one's start
      val inv = scala.util.Try {
        val w = Window.partitionBy("pk").orderBy("start_datetime")
        val next = lead(col("start_datetime"), 1).over(w)
        val bad = col("end_datetime") <= col("start_datetime") ||
          (next.isNotNull && col("end_datetime") > next)
        got.select(col("pk"), col("is_current"), bad.as("bad"))
          .groupBy("pk").agg(sum(col("is_current").cast("int")).as("cur"),
            sum(col("bad").cast("int")).as("bad"))
          .agg(count(lit(1)), sum((col("cur") > 1).cast("int")),
            sum((col("cur") === 0).cast("int")), sum(col("bad")))
          .head
      }
      rec.check(s"curation.$uc.one_current_per_pk") {
        val r = inv.get
        val dup = r.getLong(1)
        val missing = r.getLong(2) + (rows - r.getLong(0))
        if (dup + missing == 0) None else Some(s"$dup keys with >1 current row, $missing with none")
      }
      rec.check(s"curation.$uc.no_overlap") {
        val bad = inv.get.getLong(3)
        if (bad == 0) None else Some(s"$bad rows with overlapping intervals")
      }
    }
  }

  def finish(rec: Recorder): Unit = {
    val td = tableDir
    rec.fact("warehouse_bytes", Gen.dirBytes(td).toDouble)
    rec.fact("live_bytes", Gen.liveBytes(store, Table, td).toDouble)
    rec.fact("snapshot_versions", store.manifests(Table).size.toDouble)
    rec.fact("manifest_files", Gen.fileCount(td.resolve("_manifests")).toDouble)
  }
}
