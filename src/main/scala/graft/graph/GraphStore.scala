package graft.graph

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Named-graph persistence: the Spark re-expression of the reference's
  * write path (primary_server.c:27-190 writes adjacency-matrix text
  * files under a writers-preference lock; load_balancer.c routes
  * reads to replicas).
  *
  * Here a named graph is a parquet edge-list snapshot. Writers to one
  * graph are serialized JVM-wide on a per-graph lock (the reference's
  * writer sequencing, primary_server.c:62-107), so every upsert merges
  * the latest committed snapshot and none is lost. The swap is not
  * atomic: an upsert deletes the old snapshot and then renames its
  * staging snapshot into place, and a reader that lists or reads the
  * graph in between finds no files (or a stale listing). Readers take
  * no lock here; a caller that reads beside writes sequences them
  * itself, as `perfbench`'s graphdb_mixed does with a per-graph
  * read-write lock. Edges are repartitioned by `src` before write so
  * downstream traversal joins co-locate by source vertex at scale.
  *
  * [[load]] declares the schema every snapshot is written with,
  * `src BIGINT, dst BIGINT`, so it starts no schema-inference job, and
  * it caches nothing. The reads of the paper's traffic (`bfs` and the
  * ops on it, `dfsLeaves`, `dfsPreorder`) read the edges in one job
  * each ([[Supersteps.intake]]) and cache no frame either, so concurrent
  * readers of one graph share no cached edge plan that one of them
  * could drop under another.
  */
object GraphStore {

  private def path(workDir: String, name: String) = s"$workDir/$name"

  /** One monitor per snapshot path, for the life of the JVM. */
  private val writeLocks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  private def writing[T](spark: SparkSession, target: String)(body: => T): T = {
    val p = new Path(target)
    val key = p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
    writeLocks.computeIfAbsent(key, _ => new AnyRef).synchronized(body)
  }

  /** Create or replace a named graph (reference op 1 / op 2 "replace"). */
  def save(spark: SparkSession, workDir: String, name: String, edges: DataFrame): Unit = {
    val target = path(workDir, name)
    writing(spark, target) {
      edges.select(col("src").cast("long"), col("dst").cast("long"))
        .repartition(edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, col("src"))
        .sortWithinPartitions("src", "dst")
        .write.mode(SaveMode.Overwrite).parquet(target)
    }
  }

  /** Merge new edges into a named graph (reference op 2 "modify"):
    * union-distinct with the current snapshot, write a staging
    * snapshot, delete the old one, rename the staging one into place.
    * The whole read-merge-write holds the graph's write lock: two
    * unsequenced upserts would each merge the same base and the later
    * swap would drop the other's edges, and a rename onto a target
    * another writer has just recreated nests the staging dir inside it.
    */
  def upsert(spark: SparkSession, workDir: String, name: String, newEdges: DataFrame): Unit = {
    val target = path(workDir, name)
    val fs = new Path(target).getFileSystem(spark.sparkContext.hadoopConfiguration)
    writing(spark, target) {
      val merged =
        if (fs.exists(new Path(target)))
          load(spark, workDir, name).unionAll(
            newEdges.select(col("src").cast("long"), col("dst").cast("long"))).distinct()
        else newEdges
      val staging = s"$target.staging-${java.util.UUID.randomUUID}"
      merged.select(col("src").cast("long"), col("dst").cast("long"))
        .write.mode(SaveMode.Overwrite).parquet(staging)
      fs.delete(new Path(target), true)
      fs.rename(new Path(staging), new Path(target))
    }
  }

  /** The schema [[save]] and [[upsert]] write. */
  private val EdgeSchema = StructType(Seq(StructField("src", LongType), StructField("dst", LongType)))

  /** A named graph's edges; a graph that does not exist fails here. */
  def load(spark: SparkSession, workDir: String, name: String): DataFrame =
    spark.read.schema(EdgeSchema).parquet(path(workDir, name))

  /** Write a graph in the reference's adjacency-matrix text format
    * (G*.txt: first line n, then n rows of n space-separated 0/1 —
    * primary_server.c:153-176 writes exactly this). 1-based vertex
    * ids in [1, n]. Like the reference's write path (and
    * [[GraphOps.dfsPreorder]]) this materializes the O(n²) matrix —
    * a format-parity bridge, not a scale path; the scale format is
    * the parquet edge list above.
    */
  def toAdjacencyText(edges: DataFrame, file: String, n: Int): Unit = {
    val m = Array.fill(n, n)('0')
    edges.select(col("src").cast("long"), col("dst").cast("long")).collect().foreach { r =>
      val (s, d) = (r.getLong(0).toInt, r.getLong(1).toInt)
      require(s >= 1 && s <= n && d >= 1 && d <= n, s"vertex out of [1,$n]: ($s,$d)")
      m(s - 1)(d - 1) = '1'
    }
    val sb = new StringBuilder
    sb.append(n).append('\n')
    m.foreach { row => sb.append(row.mkString(" ")).append('\n') }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(file), sb.toString)
  }

  /** Parse the reference's adjacency-matrix text format (G*.txt:
    * first line n, then n rows of n 0/1 ints) into a 1-based edge
    * list. zipWithIndex keeps deterministic line numbers regardless of
    * partitioning.
    */
  def fromAdjacencyText(spark: SparkSession, file: String): DataFrame = {
    import spark.implicits._
    val lines = spark.sparkContext.textFile(file).zipWithIndex()
    val edges = lines.filter(_._2 > 0).flatMap { case (line, rowIdx) =>
      val cells = line.trim.split("\\s+")
      cells.iterator.zipWithIndex.collect {
        case (cell, colIdx) if cell != "0" && cell.nonEmpty =>
          (rowIdx, colIdx.toLong + 1L) // 1-based vertex ids, as the reference client uses
      }
    }
    edges.toDF("src", "dst")
  }
}
