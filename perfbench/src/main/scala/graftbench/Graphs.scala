package graftbench

import graft.graph.{GraphOps, GraphStore}
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.{DataFrame, Row}
import scala.jdk.CollectionConverters._

/** One checked traversal: `levels` is the number of frontier expansions
  * a BFS ran, read from its answer (deepest level + 1, the last
  * expansion finding nothing new), 0 for other kinds; `edges` is the
  * out-degree sum over the reached vertices, the edges a traversal scans.
  */
final case class Traversal(kind: String, seconds: Double, levels: Int, edges: Long, local: Boolean)

/** Runs a body under some lock; [[Guard.none]] takes none. */
trait Guard { def apply[A](f: => A): A }
object Guard {
  val none: Guard = new Guard { def apply[A](f: => A): A = f }
}

/** Graph operations issued against a store directory, each timed as one
  * benchmark operation and checked against the reference. With
  * `distributed`, BFS takes the engine's frontier loop whatever the
  * graph size, through the public `maxLocalEdges` parameter of
  * `GraphOps.bfs`; the other traversals have no such parameter and are
  * called as they are.
  */
final class GraphClient(ctx: Context, val dir: Path, distributed: Boolean) {
  private val done = new ConcurrentLinkedQueue[Traversal]()
  private def spark = ctx.spark
  private def span[A](name: String)(f: => A): A = ctx.tracer.span(name)(f)

  def frame(edges: Seq[(Long, Long)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(edges, Main.Cores)).toDF("src", "dst")

  private def source(v: Long): DataFrame = spark.range(v, v + 1).toDF("vertex")

  def load(name: String): DataFrame = span("GraphStore.load")(GraphStore.load(spark, dir.toString, name))

  def save(name: String, edges: Seq[(Long, Long)]): Unit =
    span("GraphStore.save")(GraphStore.save(spark, dir.toString, name, frame(edges)))

  /** Writes `edges` as the reference's n×n adjacency-matrix text, untimed. */
  def writeText(file: Path, edges: Seq[(Long, Long)], n: Int): Unit =
    GraphStore.toAdjacencyText(frame(edges), file.toString, n)

  /** Parses the reference's matrix text and saves it, timed as one span:
    * the parse is lazy and runs inside the save.
    */
  def saveText(name: String, file: Path): Unit = span("GraphStore.text_parse") {
    GraphStore.save(spark, dir.toString, name, GraphStore.fromAdjacencyText(spark, file.toString))
  }

  def upsert(name: String, edges: Seq[(Long, Long)]): Unit =
    span("GraphStore.upsert")(GraphStore.upsert(spark, dir.toString, name, frame(edges)))

  def stored(name: String): Set[(Long, Long)] =
    load(name).collect().iterator.map(r => (r.getLong(0), r.getLong(1))).toSet

  private def isLocal(ref: RefGraph) = !distributed && ref.edges.size <= GraphOps.LocalEdgeThreshold

  /** One checked read. `snapshot` is taken inside `guard` (the caller's
    * lock, if any), so the check compares against the graph the read saw.
    */
  private def read(kind: String, name: String, s: Long, guard: Guard, snapshot: => RefGraph,
      levels: Array[Row] => Int = _ => 0)(call: DataFrame => Array[Row])
      (check: (Array[Row], RefGraph) => Boolean): OpRecord = {
    var ref: RefGraph = null
    var rows: Array[Row] = null
    val rec = ctx.op(kind, "read") {
      guard { ref = snapshot; val e = load(name); rows = span(s"GraphOps.$kind")(call(e)); rows }
    }(check(_, ref))
    if (rec.ok && !ctx.warming)
      done.add(Traversal(kind, rec.seconds, levels(rows), ref.edgesTouched(s), isLocal(ref)))
    rec
  }

  def bfs(name: String, s: Long, guard: Guard = Guard.none)(snapshot: => RefGraph): OpRecord =
    read("bfs", name, s, guard, snapshot, rows => rows.map(_.getAs[Number](1).intValue).max + 1) { e =>
      (if (distributed) GraphOps.bfs(e, source(s), maxLocalEdges = 0).select("vertex", "level")
       else GraphOps.bfsFrom(e, source(s))).collect()
    } { (rows, ref) => rows.map(r => r.getLong(0) -> r.getAs[Number](1).intValue).toMap == ref.levels(s) }

  def reach(name: String, s: Long, guard: Guard = Guard.none)(snapshot: => RefGraph): OpRecord =
    read("reach", name, s, guard, snapshot)(GraphOps.reach(_, source(s)).collect()) {
      (rows, ref) => rows.map(_.getLong(0)).toSet == ref.reach(s)
    }

  def leaves(name: String, s: Long, guard: Guard = Guard.none)(snapshot: => RefGraph): OpRecord =
    read("leaves", name, s, guard, snapshot)(GraphOps.dfsLeaves(_, source(s)).collect()) {
      (rows, ref) => rows.map(_.getLong(0)).toSet == ref.leaves(s)
    }

  def preorder(name: String, s: Long, guard: Guard = Guard.none)(snapshot: => RefGraph): OpRecord =
    read("preorder", name, s, guard, snapshot)(GraphOps.dfsPreorder(_, s).collect()) {
      (rows, ref) => rows.sortBy(_.getLong(0)).map(_.getLong(1)).toSeq == ref.preorder(s)
    }

  def components(name: String, ref: RefGraph): OpRecord = {
    val rec = ctx.op("cc", "cc") {
      val e = load(name)
      span("GraphOps.cc") {
        (if (distributed) GraphOps.connectedComponents(e, maxLocalEdges = 0)
         else GraphOps.connectedComponents(e)).collect()
      }
    } { rows => rows.map(r => r.getLong(0) -> r.getLong(1)).toMap == ref.components }
    if (rec.ok && !ctx.warming) done.add(Traversal("cc", rec.seconds, 0, ref.edges.size.toLong, isLocal(ref)))
    rec
  }

  /** Parquet part files per snapshot and stored bytes per edge, over `graphs`. */
  def storage(graphs: Map[String, RefGraph], m: Metrics): Unit = {
    val parts = graphs.keys.toSeq.map { n =>
      val s = Files.list(dir.resolve(n))
      try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")) finally s.close()
    }
    m.put("GraphStore.files_per_snapshot", "count", Stats.ratio(parts.sum, parts.size))
    m.put("GraphStore.bytes_per_edge", "B/edge",
      Stats.ratio(graphs.keys.map(n => Jvm.dirBytes(dir.resolve(n))).sum, graphs.values.map(_.edges.size.toLong).sum))
  }

  /** GraphStore and GraphOps layer metrics from the spans of timed
    * operations and the traversals. `saveInSetup`: the workload saves
    * only while setting up, so `GraphStore.save_s` times those saves.
    */
  def layers(m: Metrics, saveInSetup: Boolean = false): Unit = {
    def med(n: String) = Layers.spanMedian(ctx, n)
    m.put("GraphStore.save_s", "s", Layers.spanMedian(ctx, "GraphStore.save", timed = !saveInSetup))
    m.put("GraphStore.text_parse_s", "s", med("GraphStore.text_parse"))
    m.put("GraphStore.upsert_s", "s", med("GraphStore.upsert"))
    m.put("GraphStore.load_s", "s", med("GraphStore.load"))
    Seq("bfs", "reach", "leaves", "preorder", "cc").foreach(k => m.put(s"GraphOps.${k}_s", "s", med(s"GraphOps.$k")))
    val all = done.asScala.toSeq
    m.put("GraphOps.local_share", "ratio", Stats.ratio(all.count(_.local), all.size))
    val bfs = all.filter(_.kind == "bfs")
    val levels = bfs.map(_.levels).sum
    m.put("GraphOps.levels", "count", Stats.ratio(levels, bfs.size))
    m.put("GraphOps.s_per_level", "s", Stats.ratio(bfs.map(_.seconds).sum, levels))
    val traversals = all.filter(_.kind != "cc")
    m.put("GraphOps.edges_touched", "count", Stats.ratio(traversals.map(_.edges).sum, traversals.size))
    m.put("GraphOps.edges_per_s", "edges/s", Stats.ratio(traversals.map(_.edges).sum, traversals.map(_.seconds).sum))
    ctx.stats.foreach { st =>
      val t = st.sum(_.startsWith("op:bfs:"))
      m.put("spark.jobs_per_level", "count", Stats.ratio(t.jobs, levels))
      m.put("spark.job_s_per_level", "s", Stats.ratio(t.jobWallMs / 1e3, levels))
    }
  }
}
