package graftbench

import scala.util.Random

/** One seeded random digraph of 5,000 vertices and 400,000 edges,
  * traversed through the engine's distributed frontier loop, forced with
  * `GraphOps.bfs(…, maxLocalEdges = 0)` since a graph above the 4M-edge
  * LocalEdgeThreshold does not fit a run. Out-degree 80 keeps a
  * traversal to four levels, so the per-level cost dominates. One
  * closed-loop client runs BFS from seeded sources in turn, each
  * followed by an upsert of 1% new edges, so every read sees a new
  * snapshot, and connected components once. DFS reach and leaves take
  * no `maxLocalEdges` and would run on the driver at this size, so they
  * are left to oltp_small. Generating and saving the graph is set-up.
  */
final class TraverseLarge(seed: Long) extends Workload {
  private val Vertices = 5000
  private val Edges = 400000
  private val Sources = 4

  private val rnd = new Random(seed)
  private val initial = RefGraph.random(rnd, Vertices, Edges)
  private var current = initial
  private var client: GraphClient = _
  private var name: String = _

  /** The warm-up runs components, then at least one read and modify. */
  def warmupSeconds: Double = 3

  def prepare(ctx: Context, rep: Int): Unit = {
    client = new GraphClient(ctx, ctx.work.resolve("graphs"), distributed = true)
    name = s"large-$rep"
    client.save(name, initial.edges.toSeq)
  }

  def measure(ctx: Context, seconds: Double): Unit = {
    val deadline = ctx.deadlineAfter(seconds)
    def more = System.nanoTime() < deadline
    val sources = new Random(seed + 1).shuffle(initial.sources.toSeq).take(Sources)
    // Components release their checkpoints as they finish, and that work
    // lands on the next operations: run them first in the warm-up and
    // last in the timed phase, so no timed read pays for it.
    if (ctx.warming) client.components(name, current)
    var i = 0
    while (more || (ctx.warming && i < 1)) {
      val g = current
      client.bfs(name, sources(i % Sources))(g)
      val add = RefGraph.newEdges(rnd, g, Vertices, Edges / 100)
      val rec = ctx.op("modify", "write")(client.upsert(name, add))(_ => true)
      if (rec.ok) current = g.union(add)
      i += 1
    }
    if (!ctx.warming) client.components(name, current)
  }

  def finish(ctx: Context, m: Metrics): Boolean = {
    val ok = client.stored(name) == current.edges
    if (!ok) ctx.errors.add(s"graph $name: stored edges differ from the acknowledged writes")
    client.storage(Map(name -> current), m)
    if (ctx.tracer.enabled) client.layers(m, saveInSetup = true)
    ok
  }
}
