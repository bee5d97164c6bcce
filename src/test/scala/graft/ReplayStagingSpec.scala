package graft

/** Streaming replays stage each batch in a `graft_stage*` temp dir and
  * rename its files into the watched dir; the emptied staging dirs must
  * not outlive the landing. */
class ReplayStagingSpec extends SparkSpec {

  private def stagingDirs(): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).listFiles)
      .toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("graft_stage"))
      .map(_.getName).toSet

  test("streaming replays delete their staging dirs once the files land") {
    // q84 lands both sides of a slice per `stage`; q77 stages all slices
    // in one `stageSlices` write
    Seq("q84_stream_interval_join", "q77_stream_dedup").foreach { q =>
      val before = stagingDirs()
      val rows = SparkEntry.queries(q)(spark, "/root/testdata/sf0.01").count()
      assert(rows > 0, s"$q replayed nothing")
      val left = stagingDirs() -- before
      assert(left.isEmpty, s"$q left staging dirs behind: ${left.mkString(", ")}")
    }
  }
}
