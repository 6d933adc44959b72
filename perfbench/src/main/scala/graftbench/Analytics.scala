package graftbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.expr
import scala.jdk.CollectionConverters._
import scala.util.Random

/** A fixed list of SparkEntry queries over the bundled sf0.01 tables:
  * one cold pass in a fresh session with an empty catalog, then whole
  * warm passes, at least two, until `seconds` have passed.
  * One query per operator family, the streaming drain through both the
  * memory sink and the parquet file sink, and the catalog-backed
  * derivations (derived graphs, dedup, OPQ training) that the cold pass
  * pays for. The seed orders the queries in each pass. Streaming queries
  * write to a sink and count as writes; the rest are reads. GraphStore
  * is never called.
  */
final class Analytics(seed: Long, dataDir: String, expectedFile: String) extends Workload {
  private val MemorySink = Seq("stream_dedup")
  private val FileSink = Seq("stream_dedup_watermark")
  private val WarmPasses = 2
  private val Queries = Seq("graph_cc_large", "q1_agg", "text_ngrams",
    "dedup_cluster", "ann_opq", "mm_phash") ++ MemorySink ++ FileSink

  /** name → (rows, order-insensitive hash), recorded with the benchmark. */
  private val expected: Map[String, (Long, Long)] =
    Files.readAllLines(Paths.get(expectedFile)).asScala.filter(_.nonEmpty).map { l =>
      val Array(n, rows, hash) = l.split("\t")
      n -> (rows.toLong, hash.toLong)
    }.toMap

  private val cold = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val warm = scala.collection.mutable.Map.empty[String, Seq[Double]].withDefaultValue(Nil)
  private var diskBytes = 0L

  private def family(q: String): String = q.takeWhile(_ != '_') match {
    case "graph" => "graph"; case "text" => "text"; case "dedup" => "dedup"
    case "ann" => "similarity"; case "mm" => "multimodal"; case "stream" => "streaming"
    case _ => "operators"
  }

  private def cacheDir = Paths.get(sys.env.getOrElse("GRAFT_CACHE_DIR", "cache-unset"))

  /** No warm-up: the first pass over an empty catalog is what the cold metrics measure. */
  def warmupSeconds: Double = 0

  def prepare(ctx: Context, rep: Int): Unit = ctx.tracer.span("Materialized.evict") {
    graft.Materialized.evict(ctx.spark)
    graft.Materialized.evictDisk()
  }

  private def run(ctx: Context, q: String, pass: String): OpRecord = {
    val cls = if (family(q) == "streaming") "write" else "read"
    val rec = ctx.op(q, s"$pass-$cls") {
      val df = ctx.tracer.span("SparkEntry.query")(graft.SparkEntry.queries(q)(ctx.spark, dataDir))
      val r = ctx.tracer.span("fingerprint")(df.agg(expr("count(1)"), expr("bit_xor(xxhash64(struct(*)))")).head())
      (r.getLong(0), r.getLong(1))
    } { got =>
      val ok = expected.get(q).contains(got)
      if (!ok) ctx.errors.add(s"$q: got rows=${got._1} hash=${got._2}, expected ${expected.get(q)}")
      ok
    }
    if (rec.ok) {
      if (pass == "cold") cold(q) = rec.seconds else warm(q) = warm(q) :+ rec.seconds
    }
    rec
  }

  def measure(ctx: Context, seconds: Double): Unit = {
    val deadline = ctx.deadlineAfter(seconds)
    val order = new Random(seed)
    order.shuffle(Queries).foreach(run(ctx, _, "cold"))
    diskBytes = Jvm.dirBytes(cacheDir)
    var passes = 0
    do { order.shuffle(Queries).foreach(run(ctx, _, "warm")); passes += 1 }
    while (passes < WarmPasses || System.nanoTime() < deadline)
  }

  def finish(ctx: Context, m: Metrics): Boolean = {
    val warmMed = Queries.map(q => q -> Stats.median(warm(q))).toMap
    m.put("analytics.cold_query_s", "s", cold.values.sum)
    m.put("analytics.warm_query_s", "s", warmMed.values.sum)
    if (ctx.tracer.enabled) {
      m.put("Materialized.first_touch_s", "s", cold.map { case (q, c) => c - warmMed(q) }.sum)
      m.put("Materialized.disk_bytes", "B", diskBytes)
      Analytics.Families.foreach { f =>
        val qs = Queries.filter(family(_) == f)
        m.put(s"$f.cold_s", "s", qs.flatMap(cold.get).sum)
        m.put(s"$f.warm_s", "s", qs.map(warmMed).sum)
      }
      m.put("streaming.memory_sink_s", "s", MemorySink.map(warmMed).sum)
      m.put("streaming.file_sink_s", "s", FileSink.map(warmMed).sum)
      m.put("similarity.opq_cold_s", "s", cold.getOrElse("ann_opq", 0.0))
    }
    true
  }
}

object Analytics {
  val Families = Seq("operators", "text", "dedup", "similarity", "multimodal", "streaming", "graph")
}
