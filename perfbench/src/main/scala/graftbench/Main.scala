package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One completed or failed benchmark operation. `cls` is "read",
  * "write" or "cc" (components: counted in the throughput, not in the read
  * latencies), prefixed "cold-" or "warm-" by the analytics passes.
  */
final case class OpRecord(kind: String, cls: String, seconds: Double, ok: Boolean)

/** State shared by a run: the session, the tracer, the listener and the op log. */
final class Context(val seed: Long, val work: Path, val tracer: Tracer) {
  var spark: SparkSession = _
  /** While set, operations run and are checked but not recorded. */
  @volatile var warming = false
  var stats: Option[SparkStats] = None
  private val opIds = new AtomicLong(0)
  val ops = new ConcurrentLinkedQueue[OpRecord]()
  val errors = new ConcurrentLinkedQueue[String]()
  val warmupFailures = new AtomicLong(0)

  def deadlineAfter(s: Double): Long = System.nanoTime() + (s * 1e9).toLong

  /** Runs `call` as one timed operation under its own job group, then
    * checks its answer outside the timing. An exception or a wrong
    * answer counts the operation as failed.
    */
  def op[A](kind: String, cls: String)(call: => A)(check: A => Boolean): OpRecord = {
    val id = opIds.incrementAndGet()
    val sc = spark.sparkContext
    if (tracer.enabled) sc.setJobGroup(if (warming) "warmup" else s"op:$kind:$id", kind, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val result =
      try Right(tracer.withOp(id)(tracer.span(s"op.$kind")(call)))
      catch { case NonFatal(e) => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    if (tracer.enabled) sc.clearJobGroup()
    val ok = result match {
      case Right(a) =>
        val good = try check(a) catch { case NonFatal(_) => false }
        if (!good) errors.add(s"$kind #$id: wrong answer")
        good
      case Left(e) =>
        errors.add(s"$kind #$id: ${e.getClass.getSimpleName}: ${e.getMessage}")
        false
    }
    val rec = OpRecord(kind, cls, secs, ok)
    if (!warming) ops.add(rec)
    else if (!ok) warmupFailures.incrementAndGet()
    rec
  }

  def records: Seq[OpRecord] = ops.asScala.toSeq
}

/** A workload: set-up work repeated per session, then operations, first
  * untimed as a warm-up and then timed.
  */
trait Workload {
  /** Loads the workload's inputs into the fresh session; rep counts from 1. */
  def prepare(ctx: Context, rep: Int): Unit
  /** Seconds of untimed operations before the timed phase, long enough
    * to run every operation kind, so code generation and the JIT have
    * compiled each kind's code paths before any latency is recorded.
    */
  def warmupSeconds: Double
  /** Runs operations until `seconds` have passed, at least one. */
  def measure(ctx: Context, seconds: Double): Unit
  /** Checks the final state and adds the workload's own metrics; false if the state is wrong. */
  def finish(ctx: Context, m: Metrics): Boolean
}

object Main {
  val Cores = 4
  val SetupReps = 3

  private def usage(): Nothing = {
    System.err.println("usage: graftbench.Main --workload oltp_small|traverse_large|analytics_sf001 " +
      "--seed N --seconds S --trace 0|1 --work DIR --data DIR --expected FILE --spans FILE")
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, usage())
    val tracer = new Tracer(arg("trace") == "1")
    val ctx = new Context(arg("seed").toLong, Paths.get(arg("work")), tracer)
    val wl: Workload = arg("workload") match {
      case "oltp_small"      => new OltpSmall(ctx.seed)
      case "traverse_large"  => new TraverseLarge(ctx.seed)
      case "analytics_sf001" => new Analytics(ctx.seed, arg("data"), arg("expected"))
      case _                 => usage()
    }
    val m = new Metrics
    val tBegin = System.nanoTime()
    val setup = (1 to SetupReps).map(rep => setUp(ctx, wl, rep))
    val tWarm = System.nanoTime()

    if (wl.warmupSeconds > 0) {
      ctx.warming = true; tracer.paused = true
      wl.measure(ctx, wl.warmupSeconds)
      ctx.warming = false; tracer.paused = false
    }
    val t0 = System.nanoTime()
    wl.measure(ctx, arg("seconds").toDouble)
    val t1 = System.nanoTime()
    val wall = (t1 - t0) / 1e9
    ctx.stats.foreach(_ => SparkStats.drain(ctx.spark.sparkContext))

    val recs = ctx.records
    val done = recs.filter(_.ok)
    def lat(cls: String) = done.filter(r => r.cls == cls || r.cls == s"warm-$cls").map(_.seconds)
    val extra = new Metrics
    tracer.paused = true
    val stateOk = wl.finish(ctx, extra)
    val tEnd = System.nanoTime()
    val failed = recs.count(!_.ok)
    m.put("setup_s", "s", Stats.median(setup.map(_._1)))
    m.put("ops_per_s", "ops/s", done.size / wall)
    m.put("read_p50_s", "s", Stats.median(lat("read")))
    m.put("write_p50_s", "s", Stats.median(lat("write")))
    extra.put("ops.read_p90_s", "s", Stats.quantile(lat("read"), 0.9))
    extra.put("ops.write_p90_s", "s", Stats.quantile(lat("write"), 0.9))
    extra.put("ops.reads", "count", lat("read").size)
    extra.put("ops.writes", "count", lat("write").size)
    extra.put("ops.failed_frac", "ratio", Stats.ratio(failed, recs.size))
    extra.put("jvm.peak_rss_mb", "MB", Jvm.peakRssMb)
    Seq("setup" -> (tWarm - tBegin), "warmup" -> (t0 - tWarm), "timed" -> (t1 - t0), "finish" -> (tEnd - t1))
      .foreach { case (p, ns) => extra.put(s"phase.${p}_s", "s", ns / 1e9) }
    if (tracer.enabled) {
      extra ++= Layers.common(ctx, setup, wall)
      tracer.write(Paths.get(arg("spans")))
    }
    val layers = Layers.declaredOnly(extra)
    ctx.errors.asScala.take(20).foreach(e => System.err.println(s"graftbench: $e"))
    ctx.spark.stop()

    val out = if (tracer.enabled) layers else m
    (m.table ++ extra.table).foreach(println)
    val correct = failed == 0 && ctx.warmupFailures.get == 0 && stateOk
    println(s"""{"correct": $correct, "attempted": ${recs.size}, "failed": $failed, "metrics": ${out.json}}""")
  }

  /** One set-up repetition: a fresh session through GraftSession, the
    * data-free warm-up, then the workload's inputs. Returns
    * (total, session start, warm-up) seconds.
    */
  private def setUp(ctx: Context, wl: Workload, rep: Int): (Double, Double, Double) = {
    if (ctx.spark != null) ctx.spark.stop()
    val t0 = System.nanoTime()
    val local = ctx.work.resolve("spark-local").toString
    ctx.spark = ctx.tracer.span("GraftSession.start") {
      graft.GraftSession.tuned(
        SparkSession.builder().master(s"local[$Cores]").appName("graftbench")
          .config("spark.local.dir", local)
          .config("spark.sql.warehouse.dir", ctx.work.resolve("warehouse").toString),
        shufflePartitions = Cores).getOrCreate()
    }
    ctx.spark.sparkContext.setLogLevel("ERROR")
    if (ctx.tracer.enabled) ctx.stats = Some(SparkStats.install(ctx.spark.sparkContext))
    val t1 = System.nanoTime()
    ctx.tracer.span("GraftSession.warmup") {
      val w = ctx.spark.range(1000000).selectExpr("id % 100 AS k", "id AS v")
      w.groupBy("k").agg(sum("v")).join(w.limit(50), "k").collect()
    }
    val t2 = System.nanoTime()
    wl.prepare(ctx, rep)
    val t3 = System.nanoTime()
    ((t3 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }
}

object Jvm {
  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Sum over heap pools of their peak usage, in MB. */
  def heapPeakMb: Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1024 * 1024)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}
