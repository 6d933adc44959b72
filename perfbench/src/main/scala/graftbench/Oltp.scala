package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, Phaser}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.{Lock, ReentrantReadWriteLock}
import scala.jdk.CollectionConverters._
import scala.util.Random

/** The reference's own surface on many small named graphs (50–2,000
  * vertices): two closed-loop clients, 70% reads (BFS levels, DFS reach,
  * DFS leaves, DFS preorder) and 30% writes (add, modify); half of the
  * adds arrive as n×n adjacency-matrix text. Each graph has
  * a fair readers-writers lock, as the reference's server holds one, and
  * in every tenth step the two clients meet on one graph: one modifies it
  * while the other reads it. Every graph stays far below
  * GraphOps.LocalEdgeThreshold, so the driver-side traversal twins run.
  */
final class OltpSmall(seed: Long) extends Workload {
  private val Clients = 2
  private val InitialGraphs = 8
  private val EdgesPerVertex = 3
  private val MaxTextVertices = 1000

  private case class Entry(ref: RefGraph, n: Int)
  private val graphs = new ConcurrentHashMap[String, Entry]()
  private val added = new AtomicInteger(0)
  private val locks = new ConcurrentHashMap[String, ReentrantReadWriteLock]()
  private var client: GraphClient = _
  private var textDir: Path = _

  def warmupSeconds: Double = 3

  private def lock(name: String) = locks.computeIfAbsent(name, _ => new ReentrantReadWriteLock(true))
  private def guard(l: Lock): Guard = new Guard {
    def apply[A](f: => A): A = { l.lock(); try f finally l.unlock() }
  }

  /** Vertex count, log-uniform over [50, max]. Draw `k` of a stream lands
    * in stratum 5k mod 8 of the range (0, 5, 2, 7, 4, …), so every run,
    * however short, holds a similar spread of sizes.
    */
  private def size(rnd: Random, max: Int, k: Int): Int = {
    val u = ((5 * k) % 8 + rnd.nextDouble()) / 8
    math.exp(math.log(50) + u * (math.log(max) - math.log(50))).toInt
  }

  def prepare(ctx: Context, rep: Int): Unit = {
    client = new GraphClient(ctx, ctx.work.resolve(s"graphs-$rep"), distributed = false)
    textDir = Files.createDirectories(ctx.work.resolve(s"text-$rep"))
    graphs.clear(); locks.clear()
    val rnd = new Random(seed)
    (0 until InitialGraphs).foreach { i =>
      val n = size(rnd, 2000, i)
      val g = RefGraph.random(rnd, n, EdgesPerVertex * n)
      client.save(s"g$i", g.edges.toSeq)
      graphs.put(s"g$i", Entry(g, n))
    }
  }

  private def anySource(rnd: Random, g: RefGraph): Long = g.sources(rnd.nextInt(g.sources.length))

  private def read(rnd: Random, name: String, kind: Int): Unit = {
    val l = guard(lock(name).readLock())
    val e = graphs.get(name)
    val s = anySource(rnd, e.ref)
    def snap = graphs.get(name).ref
    kind % 4 match {
      case 0 => client.bfs(name, s, l)(snap)
      case 1 => client.reach(name, s, l)(snap)
      case 2 => client.leaves(name, s, l)(snap)
      case _ => client.preorder(name, s, l)(snap)
    }
  }

  private def modify(ctx: Context, rnd: Random, name: String): Unit = {
    val e = graphs.get(name)
    val add = RefGraph.newEdges(rnd, e.ref, e.n, math.max(3, e.ref.edges.size / 20))
    ctx.op("modify", "write") {
      guard(lock(name).writeLock()) {
        client.upsert(name, add)
        graphs.put(name, Entry(graphs.get(name).ref.union(add), e.n))
      }
    }(_ => true)
  }

  /** Adds a new graph. `k` picks its size stratum: this client's count of
    * adds of this kind, four strata apart per client.
    */
  private def add(ctx: Context, rnd: Random, text: Boolean, k: Int): Unit = {
    val name = s"a${added.incrementAndGet()}"
    val n = size(rnd, if (text) MaxTextVertices else 2000, k)
    val g = RefGraph.random(rnd, n, EdgesPerVertex * n)
    val file = textDir.resolve(s"$name.txt")
    if (text) client.writeText(file, g.edges.toSeq, n)
    val rec = ctx.op("add", "write") {
      if (text) client.saveText(name, file) else client.save(name, g.edges.toSeq)
    }(_ => true)
    if (rec.ok) graphs.put(name, Entry(g, n))
  }

  private val OverlapPhase = new Random(seed * 7919).nextInt(10)

  /** Whether step k of the shared schedule is an overlap step (one in
    * ten, at a seeded phase), and on which initial graph.
    */
  private def overlap(k: Int): Option[String] =
    if (k % 10 != OverlapPhase) None
    else Some(s"g${new Random(seed * 7919 + k).nextInt(InitialGraphs)}")

  /** Each client repeats this 20-step pattern: 14 reads cycling through the
    * four read kinds and 6 writes, adds alternating between matrix text and
    * edge lists and modifies, so every run has the same operation mix. The
    * seed picks graphs, sources, sizes and edges.
    */
  private val Pattern = "RRWRRWRRRWRRWRRWRRRW"

  def measure(ctx: Context, seconds: Double): Unit = {
    val deadline = ctx.deadlineAfter(seconds)
    val meet = new Phaser(Clients)
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        val rnd = new Random(seed * 1000003 + c + (if (ctx.warming) 2 else 0))
        var (k, reads, writes) = (0, c, c)
        try {
          do {
            val names = graphs.keySet.asScala.toSeq.sorted
            def anyGraph = names(rnd.nextInt(names.size))
            overlap(k) match {
              case Some(g) =>
                meet.arriveAndAwaitAdvance()
                if (c == 0) modify(ctx, rnd, g) else read(rnd, g, reads)
              case None if Pattern((k + 10 * c) % Pattern.length) == 'R' =>
                read(rnd, anyGraph, reads); reads += 1
              case None =>
                writes % 3 match {
                  case 0 => add(ctx, rnd, text = true, writes / 3 + 4 * c)
                  case 1 => modify(ctx, rnd, anyGraph)
                  case _ => add(ctx, rnd, text = false, writes / 3 + 4 * c)
                }
                writes += 1
            }
            k += 1
          } while (System.nanoTime() < deadline)
        } finally meet.arriveAndDeregister()
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  def finish(ctx: Context, m: Metrics): Boolean = {
    val all = graphs.asScala.toMap.map { case (k, v) => k -> v.ref }
    val stateOk = all.forall { case (name, ref) =>
      val ok = client.stored(name) == ref.edges
      if (!ok) ctx.errors.add(s"graph $name: stored edges differ from the acknowledged writes")
      ok
    }
    client.storage(all, m)
    if (ctx.tracer.enabled) {
      client.layers(m)
      overlapProbe(ctx, m)
    }
    stateOk
  }

  /** Reads that overlap a modify with no lock held, as the store's own
    * contract (lock-free readers, atomic swap) allows: while one thread
    * upserts a graph, this one reads it back in a loop. A read passes if
    * it returns the graph before or after the modify. Counted apart from
    * the workload's operations.
    */
  private def overlapProbe(ctx: Context, m: Metrics): Unit = {
    val rnd = new Random(seed + 17)
    var reads = 0
    var failures = 0
    val reasons = scala.collection.mutable.LinkedHashSet.empty[String]
    (0 until 4).foreach { i =>
      val n = 500
      val before = RefGraph.random(rnd, n, EdgesPerVertex * n)
      val add = RefGraph.newEdges(rnd, before, n, before.edges.size / 20)
      val after = before.union(add)
      val name = s"probe-$i"
      client.save(name, before.edges.toSeq)
      val writer = new Thread(() => client.upsert(name, add))
      writer.start()
      do {
        val got =
          try Right(client.stored(name))
          catch { case scala.util.control.NonFatal(e) => Left(e) }
        reads += 1
        got match {
          case Right(g) if g == before.edges || g == after.edges =>
          case Right(_) => failures += 1; reasons += "wrong edge set"
          case Left(e) => failures += 1; reasons += rootCause(e)
        }
      } while (writer.isAlive)
      writer.join()
    }
    m.put("GraphStore.overlap_reads", "count", reads)
    m.put("GraphStore.overlap_read_failures", "count", failures)
    reasons.foreach(r => System.err.println(s"graftbench: unlocked overlap read failed: $r"))
  }

  private def rootCause(e: Throwable): String = {
    val c = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${c.getClass.getSimpleName}: ${Option(c.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("").take(160)}"
  }
}
