package graft

import java.nio.file.{Files, Path, Paths}

/** Pins the transient-file lifecycle: every file a session's ops write
  * lands under that session's one scratch root, the release that runs
  * at application end deletes it, and nothing cached outlives it — a
  * second session re-derives what it needs and gets the same rows.
  */
class ScratchRootSpec extends SparkSpec {

  private val ops = Seq(
    "stream_ewma", "stream_anomaly", "stream_window_agg", "stream_latest_state",
    "stream_funnel", "stream_window_append", "stream_sessionize", "stream_dedup",
    "stream_join_recent", "stream_dedup_watermark", "stream_topk",
    "graph_load", "graph_modify", "graph_load_text", "source_jsonl", "source_csv")

  private def graftTmpEntries(): Set[Path] = {
    val s = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try s.filter(_.getFileName.toString.startsWith("graft")).toArray
      .map(_.asInstanceOf[Path]).toSet
    finally s.close()
  }

  test("every transient file lands in the session's scratch root, deleted on release") {
    val queries = SparkEntry.queries
    val before = graftTmpEntries()
    val session = spark.newSession()
    val rows = ops.map(name => name -> rowsOf(queries(name)(session, sfDir))).toMap
    val root = Materialized.scratchRoot(session)
    assert(graftTmpEntries() === before + root)
    assert(Files.isDirectory(root))

    Materialized.release(session)
    assert(!Files.exists(root))
    assert(graftTmpEntries() === before)

    // a fresh session must not be served paths the release deleted
    val again = spark.newSession()
    try assert(rowsOf(queries("stream_sessionize")(again, sfDir)) === rows("stream_sessionize"))
    finally Materialized.release(again)
    assert(graftTmpEntries() === before)
  }
}
