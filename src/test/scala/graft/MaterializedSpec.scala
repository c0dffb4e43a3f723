package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

/** Pins the session catalog's contract: hits are served without
  * rebuilding, evict forces a re-derive, and corpus regeneration
  * invalidates even in the two shapes a max-mtime probe misses —
  * a rewrite landing inside the same mtime tick, and an in-place
  * part-file rewrite that never touches its parent dirs' mtimes.
  */
class MaterializedSpec extends SparkSpec {

  private def corpus(): (Path, Path) = {
    val dir = tempDir("mat_spec")
    val table = Files.createDirectory(dir.resolve("t.parquet"))
    val part = Files.write(table.resolve("part-00000"), Array.fill[Byte](64)(1))
    (dir, part)
  }

  test("hits are served without rebuilding; evict forces a re-derive") {
    val (dir, _) = corpus()
    var builds = 0
    def get(): String =
      Materialized.of(spark, dir.toString, "hit") { builds += 1; s"v$builds" }
    assert(get() === "v1")
    assert(get() === "v1")
    assert(builds === 1)
    Materialized.evict(spark)
    assert(get() === "v2")
  }

  test("regeneration within the same mtime tick still invalidates (size changed)") {
    val (dir, part) = corpus()
    var builds = 0
    def get(): String =
      Materialized.of(spark, dir.toString, "tick") { builds += 1; s"v$builds" }
    assert(get() === "v1")
    // Regenerate with different content size, then pin every mtime back
    // to its pre-rewrite value — the same-tick shape (1s granularity on
    // some filesystems). A max-mtime version probe sees no change.
    val stamps = Seq(dir, part.getParent, part).map(p =>
      p -> Files.getLastModifiedTime(p))
    Files.write(part, Array.fill[Byte](128)(2))
    stamps.foreach { case (p, t) => Files.setLastModifiedTime(p, t) }
    assert(get() === "v2", "same-tick regeneration must re-derive, not serve stale")
  }

  test("dedup_semantic trains its Lloyd centroids once per (session, corpus version)") {
    Materialized.evict(spark)
    val out1 = graft.similarity.Cluster.dedupSemantic(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    // training populated the catalog: the same key must serve, not rebuild
    var rebuilt = false
    Materialized.of(spark, sfDir, "cluster:semantic-cents") {
      rebuilt = true; Seq.empty[(Int, Array[Double])]
    }
    assert(!rebuilt, "a warm catalog must serve the trained centroids")
    // eviction (the corpus-regeneration path shares this code) retrains
    // and reproduces the same answer
    Materialized.evict(spark)
    assert(graft.similarity.Cluster.dedupSemantic(spark, sfDir)
      .collect().map(_.toSeq).toSeq === out1)
  }

  test("disk layer: a second 'session' reads back the spilled frame instead of rebuilding") {
    val (dir, _) = corpus()
    val s = spark
    import s.implicits._
    var builds = 0
    def get() = Materialized.ofDF(spark, dir.toString, "disk-df") {
      builds += 1
      Seq((1L, "a"), (2L, "b")).toDF("id", "x").localCheckpoint()
    }
    val first = get().collect().map(_.toSeq).toSet
    assert(builds === 1)
    // evict = the next session's cold start (memory catalog empty, disk
    // cache intact): the entry must serve from parquet, builder untouched
    Materialized.evict(spark)
    val second = get().collect().map(_.toSeq).toSet
    assert(builds === 1, "cold start with a warm disk cache must not rebuild")
    assert(second === first)
  }

  test("disk layer: corpus regeneration invalidates the spilled entry") {
    val (dir, part) = corpus()
    val s = spark
    import s.implicits._
    var builds = 0
    def get() = Materialized.ofDF(spark, dir.toString, "disk-inv") {
      builds += 1
      Seq((builds.toLong, "v")).toDF("id", "x").localCheckpoint()
    }
    assert(get().collect().head.getLong(0) === 1L)
    Files.write(part, Array.fill[Byte](96)(9)) // regenerate: size changed
    Materialized.evict(spark)
    assert(get().collect().head.getLong(0) === 2L,
      "a regenerated corpus must re-derive, not serve the old spill")
    assert(builds === 2)
  }

  test("disk layer: blob entries round-trip driver state across sessions") {
    val (dir, _) = corpus()
    var builds = 0
    def get(): Seq[(Int, Array[Double])] =
      Materialized.ofBlob(spark, dir.toString, "disk-blob") {
        builds += 1
        Seq((0, Array(1.5, 2.5)), (1, Array(3.5)))
      }
    val first = get()
    Materialized.evict(spark)
    val second = get()
    assert(builds === 1, "cold start with a warm disk cache must not rebuild")
    assert(second.map { case (i, a) => (i, a.toSeq) }
      === first.map { case (i, a) => (i, a.toSeq) })
  }

  test("blob filter: every real ofBlob payload shape deserializes; unlisted types rebuild") {
    // The filter is an exact-class allowlist (Materialized.blobAllowedExact)
    // — round-trip each caller's concrete payload type so a payload the
    // filter can't read back fails HERE, not as a silent cache miss.
    val (dir, _) = corpus()
    // ann:ivf-cents shape: Array[Array[Double]]
    var b1 = 0
    def mat(): Array[Array[Double]] =
      Materialized.ofBlob(spark, dir.toString, "blob-mat") {
        b1 += 1; Array(Array(1.0, 2.0), Array(3.0))
      }
    val m1 = mat().map(_.toSeq).toSeq
    Materialized.evict(spark)
    assert(mat().map(_.toSeq).toSeq === m1)
    assert(b1 === 1, "Array[Array[Double]] must read back through the filter")
    // cluster:*-cents shape as lloydCentroids actually builds it:
    // collect().toSeq.map → immutable.ArraySeq of Tuple2
    var b2 = 0
    def cents(): Seq[(Int, Array[Double])] =
      Materialized.ofBlob(spark, dir.toString, "blob-cents") {
        b2 += 1
        Array((0, Array(1.5)), (1, Array(2.5, 3.5))).toSeq.map(identity)
      }
    val c1 = cents().map { case (i, a) => (i, a.toSeq) }
    Materialized.evict(spark)
    assert(cents().map { case (i, a) => (i, a.toSeq) } === c1)
    assert(b2 === 1, "Seq[(Int, Array[Double])] must read back through the filter")
    // a type outside the allowlist must NOT deserialize — the read is
    // rejected and the entry rebuilds (correct, just uncached)
    var b3 = 0
    def bad(): java.util.ArrayList[String] =
      Materialized.ofBlob(spark, dir.toString, "blob-bad") {
        b3 += 1
        val l = new java.util.ArrayList[String](); l.add("x"); l
      }
    bad()
    Materialized.evict(spark)
    bad()
    assert(b3 === 2, "an unlisted class must be rejected by the filter, forcing rebuild")
  }

  test("in-place part rewrite invalidates without any parent-dir mtime change") {
    val (dir, part) = corpus()
    var builds = 0
    def get(): String =
      Materialized.of(spark, dir.toString, "inplace") { builds += 1; s"v$builds" }
    assert(get() === "v1")
    // Same size, same name: only the part file's own mtime moves.
    // Parent mtimes are pinned back, so a shallow listing of the corpus
    // dir sees an identical snapshot; only the depth-2 fingerprint
    // reaches the part file.
    val dirStamps = Seq(dir, part.getParent).map(p =>
      p -> Files.getLastModifiedTime(p))
    Files.write(part, Array.fill[Byte](64)(3))
    Files.setLastModifiedTime(part,
      FileTime.fromMillis(Files.getLastModifiedTime(part).toMillis + 5000))
    dirStamps.foreach { case (p, t) => Files.setLastModifiedTime(p, t) }
    assert(get() === "v2", "a rewritten part file must re-derive, not serve stale")
  }
}
