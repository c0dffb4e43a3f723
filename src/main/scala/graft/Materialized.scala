package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped materialization catalog shared by the derived-graph
  * and dedup families: a value derived from a corpus directory is
  * built once per (session, dir, version) and served to every later
  * consumer in the session — the engine's equivalent of the
  * reference's load-once-query-many model. Bounded: a handful of
  * named entries per scale dir.
  *
  * Contract:
  *  - values are built OUTSIDE the map lock (get/putIfAbsent, not
  *    computeIfAbsent) so builders may legally nest — a derivation
  *    that consumes another catalog entry must not deadlock or trip
  *    ConcurrentHashMap's recursive-update detection;
  *  - a lost build race serves the winner's value; the loser's
  *    checkpoint blocks are reclaimed by the ContextCleaner when its
  *    frame is collected;
  *  - the key folds in a (name, size, mtime) fingerprint of the dir's
  *    files, so a regenerated corpus (ScaleUp rewrites in place) is
  *    re-derived instead of served stale — superseded entries are
  *    bounded (a few per regeneration) and dropped with the session;
  *  - entries are evicted when the owning session's application ends,
  *    so stopped sessions don't pin frames for the JVM's lifetime;
  *  - the session's scratch root ([[scratchRoot]]), which holds every
  *    transient file graft writes, is deleted at the same moment.
  */
object Materialized {

  private val catalog =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Long, String), AnyRef]()
  private val evictionHooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()

  /** Fingerprint of the dir's table files: name, size, and mtime of
    * every file in the tree (unbounded walk, so nested layouts like
    * Hive-partitioned `table/key=X/part-*` are covered too — a corpus
    * dir holds at most a few thousand entries, so the stat cost stays
    * microseconds against the frames this catalog holds). A max-mtime
    * probe would serve stale frames when a corpus is regenerated
    * within the filesystem's mtime granularity, or when a part file
    * is rewritten in place without touching its parent dir's mtime;
    * hashing (name, size, mtime) per file catches both.
    *
    * Races with an in-flight regeneration (ScaleUp rewrites in place)
    * must not crash the calling query: a file that vanishes between
    * enumeration and stat is skipped, and if the walk itself dies on a
    * vanished subtree the version falls back to a nanoTime nonce —
    * the lookup re-derives (never stale, never a crash) and the
    * one-off entry is dropped with the session.
    */
  private def dirVersion(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(p)) return 0L
    try {
      val s = java.nio.file.Files.walk(p)
      try {
        var h = 1125899906842597L
        val it = s.sorted().iterator()
        while (it.hasNext) {
          val f = it.next()
          try {
            val mtime = java.nio.file.Files.getLastModifiedTime(f).toMillis
            val size =
              if (java.nio.file.Files.isRegularFile(f)) java.nio.file.Files.size(f) else 0L
            h = h * 31 + f.getFileName.toString.hashCode
            h = h * 31 + mtime
            h = h * 31 + size
          } catch {
            case _: java.io.IOException => // vanished mid-walk: skip
          }
        }
        h
      } finally s.close()
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException =>
        System.nanoTime()
    }
  }

  def of[A <: AnyRef](spark: SparkSession, dir: String, name: String)(build: => A): A =
    ofV(spark, dir, dirVersion(dir), name)(build)

  private def ofV[A <: AnyRef](spark: SparkSession, dir: String, version: Long,
      name: String)(build: => A): A = {
    val key = (spark, dir, version, name)
    val hit = catalog.get(key)
    if (hit != null) return hit.asInstanceOf[A]
    hookRelease(spark)
    val t0 = System.nanoTime()
    val built = build
    deriveLog.merge(name, (System.nanoTime() - t0) / 1e9,
      (a: java.lang.Double, b: java.lang.Double) => java.lang.Double.valueOf(a + b))
    val prior = catalog.putIfAbsent(key, built)
    if (prior != null) prior.asInstanceOf[A] else built
  }

  private def hookRelease(spark: SparkSession): Unit =
    if (evictionHooked.add(spark)) {
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = release(spark)
      })
    }

  /** Drop everything `spark` owns — its catalog entries and its
    * scratch root with every file under it. Runs from the
    * `onApplicationEnd` hook, so a stopped session pins neither frames
    * nor disk.
    */
  private[graft] def release(spark: SparkSession): Unit = {
    catalog.keySet.removeIf(_._1 eq spark)
    Option(scratchRoots.remove(spark)).foreach(deleteTree)
    evictionHooked.remove(spark)
  }

  // ---------------------------------------------------------------------
  // Session scratch: every transient file graft writes (stream staging,
  // sinks and checkpoints, the time-sorted events parts, graph-store
  // work dirs, Sources' round-trip outputs) lives under ONE root per
  // session, with the session's lifetime. Entries that name a path
  // there (the sorted-events parts) are catalog entries of the same
  // session, so the catalog can never serve a path whose files are
  // gone.
  // ---------------------------------------------------------------------

  private val scratchRoots =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, java.nio.file.Path]()

  /** The session's scratch root under java.io.tmpdir, made on first use
    * by `createTempDirectory` (owner-only on POSIX, unpredictable name —
    * nothing another user planted is ever read) and deleted by
    * [[release]] when the session's application ends.
    */
  private[graft] def scratchRoot(spark: SparkSession): java.nio.file.Path = {
    hookRelease(spark)
    scratchRoots.computeIfAbsent(spark,
      _ => java.nio.file.Files.createTempDirectory("graft-session-"))
  }

  /** A fresh directory under the session's scratch root. */
  private[graft] def scratchDir(spark: SparkSession, prefix: String): String =
    java.nio.file.Files.createTempDirectory(scratchRoot(spark), prefix).toString

  /** Per-entry derive-seconds log (r19, verdict #7): every catalog
    * build records its wall against its entry name, summed across
    * re-derives, so a training-cost regression (r18's ann_opq
    * tripling) is visible per ARTIFACT in the committed bench JSON,
    * not just as an opaque cold-derive total. With the disk layer
    * disabled (the bench's cold_derive pass) this is pure derivation
    * cost; disk-warm it includes read-back.
    */
  private val deriveLog =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  private[graft] def resetDeriveLog(): Unit = deriveLog.clear()
  private[graft] def deriveSeconds: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    deriveLog.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
  }

  // ---------------------------------------------------------------------
  // Persistent (cross-session) layer: a derivation that is a pure
  // function of (corpus dir, code build) is spilled to a disk cache so
  // the NEXT session's first touch pays read-back, not re-derivation —
  // the sf10 cold pass's 100-200 s first-touch costs (cc contraction,
  // semantic Lloyd training, dedup collapse) become one parquet scan.
  // The cache key folds the dir fingerprint (same invalidation contract
  // as the in-memory catalog: any regenerated corpus re-derives) AND a
  // code-build fingerprint, so a recompiled engine can never serve a
  // stale derivation produced by old code. Best-effort by design: any
  // I/O failure falls back to building in memory; entries from
  // superseded versions are bounded (a few per regeneration/build) and
  // live under a per-user, owner-only cache dir (see cacheRoot).
  // ---------------------------------------------------------------------

  /** Cache root: $GRAFT_CACHE_DIR, or a PER-USER default —
    * $XDG_CACHE_HOME/graft_materialized, else ~/.cache/graft_materialized,
    * else <tmpdir>/graft_materialized-<user> as a last resort. The
    * literal value "off" disables the disk layer entirely (the
    * in-memory session catalog still serves). A world-shared default
    * under /tmp let any local user pre-plant entries (cache poisoning,
    * and — for the blob layer — attacker-chosen deserialization
    * input); the per-user root plus the ownership checks in
    * [[verifiedRoot]]/[[ownedByUs]] close that.
    */
  private lazy val cacheRoot: Option[java.nio.file.Path] =
    sys.env.get("GRAFT_CACHE_DIR") match {
      case Some("off")           => None
      case Some(p) if p.nonEmpty => Some(java.nio.file.Paths.get(p))
      case _ =>
        sys.env.get("XDG_CACHE_HOME").filter(_.nonEmpty)
          .map(java.nio.file.Paths.get(_))
          .orElse(sys.props.get("user.home").filter(_.nonEmpty)
            .map(h => java.nio.file.Paths.get(h, ".cache")))
          .map(_.resolve("graft_materialized"))
          .orElse(Some(java.nio.file.Paths.get(
            sys.props.getOrElse("java.io.tmpdir", "/tmp"),
            "graft_materialized-" + sys.props.getOrElse("user.name", "unknown"))))
    }

  /** Runtime toggle for the disk layer (Bench's cold_derive pass turns
    * it off so the measurement is pure derivation cost — neither
    * read-back nor the spill-to-parquet write I/O).
    */
  @volatile private var diskLayerEnabled = true
  def setDiskLayer(on: Boolean): Unit = diskLayerEnabled = on

  private def ownedByUs(p: java.nio.file.Path): Boolean =
    try java.nio.file.Files.getOwner(p).getName ==
      sys.props.getOrElse("user.name", "")
    catch { case _: Exception => false }

  /** The cache root, created owner-only (0700) on first use and
    * REFUSED (disk layer off) if it exists but is owned by another
    * user — a pre-planted root must never be read or written.
    */
  private lazy val verifiedRoot: Option[java.nio.file.Path] = cacheRoot.flatMap { root =>
    try {
      if (!java.nio.file.Files.isDirectory(root)) {
        try java.nio.file.Files.createDirectories(root,
          java.nio.file.attribute.PosixFilePermissions.asFileAttribute(
            java.nio.file.attribute.PosixFilePermissions.fromString("rwx------")))
        catch {
          case _: UnsupportedOperationException => // non-POSIX FS
            java.nio.file.Files.createDirectories(root)
        }
      }
      if (ownedByUs(root)) Some(root) else None
    } catch { case _: Exception => None }
  }

  /** Exact class allowlist for blob deserialization — the filter for
    * [[ofBlob]], defense in depth behind the ownership checks: a
    * crafted gadget-chain entry is rejected before any class resolves.
    * The blob layer
    * persists only small driver matrices — `Array[Array[Double]]` and
    * `Seq[(Int, Array[Double])]` — so the filter names precisely the
    * classes those object graphs contain (boxes, Tuple2, the immutable
    * collections and their two serialization proxies) instead of
    * whole `scala.*` / `java.util.*` namespaces, which would leave
    * gadget-adjacent JDK/scala classes resolvable. MaterializedSpec
    * round-trips each caller's payload type through the filter, so a
    * new blob type fails loudly there (and falls back to rebuild at
    * runtime), never silently widens this list.
    */
  private val blobAllowedExact: Set[String] = Set(
    "java.lang.Object", "java.lang.String", "java.lang.Number",
    "java.lang.Integer", "java.lang.Long", "java.lang.Double",
    "java.lang.Float", "java.lang.Short", "java.lang.Byte",
    "java.lang.Boolean", "java.lang.Character",
    "scala.collection.generic.DefaultSerializationProxy",
    "scala.collection.generic.SerializeEnd$",
    "scala.collection.IterableFactory$ToFactory",
    "scala.runtime.ModuleSerializationProxy")

  private def blobAllowedName(n: String): Boolean =
    blobAllowedExact.contains(n) ||
      n == "scala.Tuple2" || n.startsWith("scala.Tuple2$mc") ||
      n.startsWith("scala.collection.immutable.")

  private val blobFilter = new java.io.ObjectInputFilter {
    override def checkInput(info: java.io.ObjectInputFilter.FilterInfo)
        : java.io.ObjectInputFilter.Status = {
      if (info.depth() > 32 || info.references() > 1000000)
        return java.io.ObjectInputFilter.Status.REJECTED
      val c = info.serialClass()
      if (c == null) return java.io.ObjectInputFilter.Status.UNDECIDED
      var k: Class[_] = c
      while (k.isArray) k = k.getComponentType
      if (k.isPrimitive || blobAllowedName(k.getName))
        java.io.ObjectInputFilter.Status.ALLOWED
      else java.io.ObjectInputFilter.Status.REJECTED
    }
  }

  /** Fingerprint of the running build, from this class's code source.
    * A recompile changes it, so disk entries written by other code are
    * invisible (never stale). Jar case folds entry (name, CRC) — CONTENT,
    * not file mtime — because sbt's forked runMain repackages a fresh
    * jar per invocation (same classes ⇒ same CRCs ⇒ same fingerprint,
    * which is what lets two sbt sessions share the cache). Directory
    * case folds the sorted classfile (name, size, mtime) tree.
    */
  private lazy val codeVersion: Long = {
    try {
      val src = getClass.getProtectionDomain.getCodeSource
      if (src == null || src.getLocation == null) 0L
      else {
        val p = java.nio.file.Paths.get(src.getLocation.toURI)
        if (java.nio.file.Files.isDirectory(p)) {
          val s = java.nio.file.Files.walk(p)
          try {
            var h = 17L
            val it = s.sorted().iterator()
            while (it.hasNext) {
              val f = it.next()
              if (java.nio.file.Files.isRegularFile(f)) {
                h = h * 31 + f.getFileName.toString.hashCode
                h = h * 31 + java.nio.file.Files.size(f)
                h = h * 31 + java.nio.file.Files.getLastModifiedTime(f).toMillis
              }
            }
            h
          } finally s.close()
        } else {
          val jf = new java.util.jar.JarFile(p.toFile)
          try {
            var h = 17L
            val es = jf.entries()
            while (es.hasMoreElements) {
              val e = es.nextElement()
              h = h * 31 + e.getName.hashCode
              h = h * 31 + e.getCrc
            }
            h
          } finally jf.close()
        }
      }
    } catch { case _: Exception => 0L }
  }

  /** Full SHA-256 digest of the corpus path (32 hex chars): the old
    * 32-bit `dir.hashCode` fold could collide two corpus dirs onto one
    * entry; a cryptographic digest cannot.
    */
  private def dirDigest(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(dir.getBytes("UTF-8")).take(16).map(b => f"$b%02x").mkString
  }

  private def diskPath(dir: String, version: Long, name: String,
      ext: String): Option[java.nio.file.Path] =
    (if (diskLayerEnabled) verifiedRoot else None).map { root =>
      val safe = name.replaceAll("[^A-Za-z0-9._-]", "_")
      root.resolve(f"$safe-$version%016x-$codeVersion%016x-${dirDigest(dir)}$ext")
    }

  /** Best-effort recursive delete (children first). */
  private[graft] def deleteTree(p: java.nio.file.Path): Unit =
    try {
      if (java.nio.file.Files.exists(p)) {
        val s = java.nio.file.Files.walk(p)
        try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
        finally s.close()
      }
    } catch { case _: Exception => }

  /** Atomic publish: build into a tmp sibling, rename into place. A
    * lost race (or cross-filesystem move) drops the tmp copy and the
    * winner's entry serves.
    */
  private def publish(tmp: java.nio.file.Path, dest: java.nio.file.Path): Unit =
    try java.nio.file.Files.move(tmp, dest,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch { case _: Exception => deleteTree(tmp) }

  /** DataFrame entry with the disk layer: memory hit → serve; disk hit
    * → one parquet read-back (localCheckpointed, so consumers see the
    * same pinned-frame behavior as a built entry); miss → build, spill
    * to parquet (best-effort), serve the built frame.
    */
  def ofDF(spark: SparkSession, dir: String, name: String)(build: => DataFrame): DataFrame = {
    val version = dirVersion(dir)
    ofV(spark, dir, version, name) {
      diskPath(dir, version, name, ".parquet") match {
        case None => build
        case Some(p) =>
          // entries not owned by the current user are never read (a
          // plantable entry is as bad as a plantable root)
          if (java.nio.file.Files.exists(p.resolve("_SUCCESS")) && ownedByUs(p))
            try spark.read.parquet(p.toString).localCheckpoint()
            catch { case _: Exception => deleteTree(p); build }
          else {
            val df = build
            try {
              java.nio.file.Files.createDirectories(p.getParent)
              val tmp = p.resolveSibling(
                p.getFileName.toString + ".tmp-" + java.util.UUID.randomUUID)
              df.write.mode("overwrite").parquet(tmp.toString)
              publish(tmp, p)
            } catch { case _: Exception => }
            df
          }
      }
    }
  }

  /** Small driver-state entry (centroid matrices, merge tables …) with
    * the disk layer: java-serialized blob next to the parquet entries.
    * Corrupt/unreadable blobs rebuild (and are dropped).
    */
  def ofBlob[A <: AnyRef](spark: SparkSession, dir: String, name: String)(build: => A): A = {
    val version = dirVersion(dir)
    ofV(spark, dir, version, name) {
      diskPath(dir, version, name, ".bin") match {
        case None => build
        case Some(p) =>
          val read: Option[A] =
            if (!java.nio.file.Files.isRegularFile(p) || !ownedByUs(p)) None
            else try {
              val in = new java.io.ObjectInputStream(
                new java.io.BufferedInputStream(java.nio.file.Files.newInputStream(p)))
              in.setObjectInputFilter(blobFilter)
              try Some(in.readObject().asInstanceOf[A]) finally in.close()
            } catch { case _: Exception => deleteTree(p); None }
          read.getOrElse {
            val a = build
            try {
              java.nio.file.Files.createDirectories(p.getParent)
              val tmp = p.resolveSibling(
                p.getFileName.toString + ".tmp-" + java.util.UUID.randomUUID)
              val out = new java.io.ObjectOutputStream(
                new java.io.BufferedOutputStream(java.nio.file.Files.newOutputStream(tmp)))
              try out.writeObject(a) finally out.close()
              publish(tmp, p)
            } catch { case _: Exception => }
            a
          }
      }
    }
  }

  /** Test hook: wipe the disk layer (every version, every corpus).
    * Deletes only the root's CHILDREN — the root dir itself (and its
    * 0700 mode) stays, and an unowned root is never touched.
    */
  def evictDisk(): Unit = verifiedRoot.foreach { root =>
    try {
      val s = java.nio.file.Files.list(root)
      try s.forEach(deleteTree) finally s.close()
    } catch { case _: Exception => }
  }

  /** Test/bench hook: drop every materialized entry for `spark`,
    * forcing the next lookup to re-derive (the cold-catalog bench
    * mode's reset).
    */
  def evict(spark: SparkSession): Unit =
    catalog.keySet.removeIf(_._1 eq spark)
}
