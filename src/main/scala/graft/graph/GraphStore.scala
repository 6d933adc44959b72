package graft.graph

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Named-graph persistence: the Spark re-expression of the reference's
  * write path (primary_server.c:27-190 writes adjacency-matrix text
  * files under a writers-preference lock; load_balancer.c routes
  * reads to replicas).
  *
  * Here a named graph is an immutable parquet edge-list snapshot:
  * writers produce a new snapshot and swap it in, and HDFS/object-store
  * replication replaces the secondary servers. The swap is NOT atomic:
  * [[upsert]] deletes the current snapshot and then renames the staged
  * one into place, so a reader that lists or opens the snapshot in
  * between fails (with FileNotFoundException, or reads a missing
  * graph). Until the swap is fixed, readers must hold the graph's lock
  * — the per-graph readers-writer lock the writers take, as in the
  * reference; GraphStore takes none itself — across `load` and every
  * action on the loaded frame. Edges are repartitioned by `src` before
  * write so downstream traversal joins co-locate by source vertex at
  * scale.
  */
object GraphStore {

  private def path(workDir: String, name: String) = s"$workDir/$name"

  /** Create or replace a named graph (reference op 1 / op 2 "replace"). */
  def save(spark: SparkSession, workDir: String, name: String, edges: DataFrame): Unit = {
    val target = path(workDir, name)
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .repartition(edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, col("src"))
      .sortWithinPartitions("src", "dst")
      .write.mode(SaveMode.Overwrite).parquet(target)
  }

  /** Merge new edges into a named graph (reference op 2 "modify"):
    * union-distinct with the current snapshot, write a staging
    * snapshot, swap. Last-writer-wins replaces the reference's writer
    * sequencing (primary_server.c:62-107).
    */
  def upsert(spark: SparkSession, workDir: String, name: String, newEdges: DataFrame): Unit = {
    val target = path(workDir, name)
    val fs = new Path(target).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val merged =
      if (fs.exists(new Path(target)))
        load(spark, workDir, name).unionAll(
          newEdges.select(col("src").cast("long"), col("dst").cast("long"))).distinct()
      else newEdges
    // unique staging path per writer: two in-flight upserts must not
    // overwrite each other's staging output — each stages privately,
    // then the swaps serialize at the rename (last writer wins whole)
    val staging = s"$target.staging-${java.util.UUID.randomUUID}"
    merged.select(col("src").cast("long"), col("dst").cast("long"))
      .write.mode(SaveMode.Overwrite).parquet(staging)
    fs.delete(new Path(target), true)
    fs.rename(new Path(staging), new Path(target))
  }

  def load(spark: SparkSession, workDir: String, name: String): DataFrame =
    spark.read.parquet(path(workDir, name))

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
