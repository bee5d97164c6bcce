package graft

import org.apache.spark.sql.SparkSession

/** The one session config: `Bench`, `Verify`, the test session and the dev
  * tools all build through [[builder]], so the config the oracle verifies
  * is the config the bench runs. Callers may add settings of their own on
  * the returned builder before `getOrCreate()`.
  */
object GraftSession {

  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Let AQE swap sort-merge for shuffled-hash when EVERY build-side
      // partition is measured under this threshold — the analytic joins
      // here are hash-friendly (DuckDB's default), and the conversion is
      // scale-safe by construction: at 100× data the partitions exceed
      // the bound and AQE leaves the sort-merge plan alone.
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "256m")
      // 64 MB broadcast threshold (default 10 MB predates boxes like this
      // one): a 2M-row projected dimension broadcasts and the fact side
      // joins map-side with NO shuffle. Scale-safe by the same mechanism
      // that makes the default safe — a dimension that outgrows the
      // threshold at a bigger SF simply stops broadcasting.
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      // The fixtures are one parquet file per table; default 128 MB splits
      // leave a 1.3 GB lineitem scanning on 11 of 32 cores and a 112 MB
      // events table on ONE. 32 MB splits spread single-file scans wide;
      // on a real multi-file layout at scale the knob is simply neutral
      // (files already outnumber cores).
      .config("spark.sql.files.maxPartitionBytes", "33554432")
      .config("spark.sql.session.timeZone", "UTC")
      // Shuffle files on local disk are reclaimed only when the driver
      // GCs the shuffle objects; the 30-min default periodic GC let a
      // full run accumulate 55 GB of /tmp/blockmgr-* (measured r8),
      // which first starved the page cache (the sf10 CoW cells ran 3x
      // slow) and then ENOSPC'd the sf100 block. 90 s keeps the
      // high-water mark near one section's working set.
      .config("spark.cleaner.periodicGC.interval", "90s")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)

  /** Run `body` with each `k -> v` set on the session, then put every key
    * back as it was: its previous value, or unset if it had none. Scoped
    * overrides never leak into later queries of a shared session. */
  def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
