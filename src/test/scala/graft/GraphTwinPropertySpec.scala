package graft

import graft.graph.GraphOps
import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

/** Property: every graph op with a driver twin gives the same answer on
  * its distributed path (forced with `maxLocalEdges = 0`) as on the
  * twin (the default threshold), over random small digraphs that carry
  * duplicate edges, self-loops, one hub and one long path. Draws also
  * vary the distributed path's layout: some force the shuffled
  * frontier join (broadcast bound 0) and some a low hub threshold, so
  * the partitioned and hub-split edge layouts run as well.
  */
class GraphTwinPropertySpec extends SparkSpec {

  // One shuffle partition: the draws are tens of edges, so every task
  // past the first is pure scheduling latency. Restored after the suite.
  private var savedPartitions: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    savedPartitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
  }

  override def afterAll(): Unit = {
    spark.conf.set("spark.sql.shuffle.partitions", savedPartitions)
    super.afterAll()
  }

  /** A weighted digraph (src, dst, w), a start vertex in it, and the
    * distributed path's layout settings.
    */
  private case class Draw(edges: Seq[(Long, Long, Long)], source: Long,
      shuffled: Boolean, hubOutDegree: Long)

  private val PathBase = 100L

  private val genDraw: Gen[Draw] = for {
    n <- Gen.choose(5, 8)
    vertex = Gen.choose(0L, n - 1L)
    random <- Gen.listOfN(2 * n, Gen.zip(vertex, vertex))
    dups <- Gen.someOf(random)
    loops <- Gen.listOfN(2, vertex).map(_.map(v => (v, v)))
    hub <- vertex
    hubIn <- Gen.listOfN(2, vertex).map(_.map(v => (v, hub)))
    pathLen <- Gen.choose(4, 6)
    pathStart <- vertex
    path = (pathStart +: (0 until pathLen).map(PathBase + _)).sliding(2)
      .map { case Seq(a, b) => (a, b) }.toSeq
    pairs = random ++ dups ++ loops ++ (0L until n).map(v => (hub, v)) ++ hubIn ++ path
    ws <- Gen.listOfN(pairs.size, Gen.choose(1L, 5L))
    source <- vertex
    shuffled <- Gen.oneOf(false, true)
    hubOutDegree <- Gen.oneOf(0L, 3L)
  } yield Draw(pairs.zip(ws).map { case ((s, d), w) => (s, d, w) }, source,
    shuffled, hubOutDegree)

  private val params = Test.Parameters.default
    .withMinSuccessfulTests(2)
    .withInitialSeed(Seed(20261017L))
    .withWorkers(1)

  private def weighted(d: Draw): DataFrame = {
    val s = spark
    import s.implicits._
    d.edges.toDF("src", "dst", "w")
  }

  private def plain(d: Draw): DataFrame = weighted(d).select("src", "dst")

  /** Rows sorted by their non-double fields; doubles compare within
    * 1.5e-6 — twice over the callers' 6-dp rounding, because the twins
    * sum contributions in a different order than the aggregation does.
    */
  private def sorted(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq
      .sortBy(_.filterNot(_.isInstanceOf[Double]).mkString(","))

  private def same(a: Seq[Seq[Any]], b: Seq[Seq[Any]]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      x.length == y.length && x.zip(y).forall {
        case (p: Double, q: Double) => math.abs(p - q) <= 1.5e-6
        case (p, q) => p == q
      }
    }

  /** The distributed path of draw `d` under its layout settings. */
  private def distributed[A](d: Draw)(run: => A): A =
    if (!d.shuffled) run
    else {
      System.setProperty("graft.bfs.broadcastFrontier", "0")
      try run finally System.clearProperty("graft.bfs.broadcastFrontier")
    }

  /** `op(draw, maxLocalEdges)` must agree between the twin and the
    * forced distributed path on every draw.
    */
  private def twinProperty(name: String)(op: (Draw, Long) => DataFrame): Unit =
    test(s"$name: distributed path (maxLocalEdges = 0) equals the driver twin") {
      val prop = Prop.forAllNoShrink(genDraw) { d =>
        val local = sorted(op(d, GraphOps.LocalEdgeThreshold))
        val dist = distributed(d)(sorted(op(d, 0L)))
        info(s"shuffled=${d.shuffled} hubOutDegree=${d.hubOutDegree} edges=${d.edges.size}")
        same(local, dist) :| s"$d\ntwin:        $local\ndistributed: $dist"
      }
      val res = Test.check(params, prop)
      assert(res.passed, res.status.toString)
    }

  private def sources(d: Draw): DataFrame = {
    val s = spark
    import s.implicits._
    Seq(d.source).toDF("vertex")
  }

  twinProperty("bfs") { (d, max) =>
    GraphOps.bfs(plain(d), sources(d), maxLocalEdges = max, hubOutDegree = d.hubOutDegree)
  }
  twinProperty("connectedComponents") { (d, max) =>
    GraphOps.connectedComponents(plain(d), maxLocalEdges = max)
  }
  twinProperty("pagerank") { (d, max) =>
    GraphOps.pagerank(plain(d), iters = 2, maxLocalEdges = max, hubOutDegree = d.hubOutDegree)
  }
  twinProperty("ppr") { (d, max) =>
    GraphOps.ppr(plain(d), Seq(d.source, PathBase), iters = 2, maxLocalEdges = max,
      hubOutDegree = d.hubOutDegree)
  }
  twinProperty("kCore") { (d, max) =>
    GraphOps.kCore(plain(d), k = 2, maxLocalEdges = max)
  }
  twinProperty("coreness") { (d, max) =>
    GraphOps.coreness(plain(d), maxLocalEdges = max)
  }
  twinProperty("densestSubgraph") { (d, max) =>
    GraphOps.densestSubgraph(plain(d), maxLocalEdges = max)
  }
  twinProperty("kTruss") { (d, max) =>
    GraphOps.kTruss(plain(d), k = 3, maxLocalEdges = max)
  }
  twinProperty("triangleCounts") { (d, max) =>
    GraphOps.triangleCounts(plain(d), maxLocalEdges = max)
  }
  twinProperty("scc") { (d, max) =>
    GraphOps.scc(plain(d), maxLocalEdges = max)
  }
  twinProperty("labelPropagation") { (d, max) =>
    GraphOps.labelPropagation(plain(d), iters = 2, maxLocalEdges = max)
  }
  twinProperty("hits") { (d, max) =>
    GraphOps.hits(plain(d), iters = 2, maxLocalEdges = max, hubOutDegree = d.hubOutDegree)
  }
  twinProperty("betweenness") { (d, max) =>
    GraphOps.betweenness(plain(d), maxLocalEdges = max, hubOutDegree = d.hubOutDegree)
  }
  twinProperty("sssp") { (d, max) =>
    GraphOps.sssp(weighted(d), d.source, maxLocalEdges = max, hubOutDegree = d.hubOutDegree)
  }
  twinProperty("msf") { (d, max) =>
    GraphOps.msf(weighted(d), maxLocalEdges = max)
  }
}
