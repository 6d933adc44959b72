package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** One timed call into a layer. `op` is the benchmark operation the call
  * belongs to (0 for set-up work); `parent` is the enclosing span on the
  * same thread (0 at the top).
  */
final case class Span(id: Long, parent: Long, op: Long, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def json: String =
    s"""{"id": $id, "parent": $parent, "op": $op, "name": "$name", "start_ns": $startNs, "end_ns": $endNs}"""
}

/** Span recorder. Disabled, `span` only runs its body, so untraced runs
  * pay nothing for it. Enabled, spans are kept in memory and written out
  * when the run ends; `bookkeepingNs` is the recorder's own cost.
  */
final class Tracer(val enabled: Boolean) {
  /** While set, spans are not recorded (the untimed warm-up). */
  @volatile var paused = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val currentOp = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  private val bookkeeping = new AtomicLong(0)

  def bookkeepingNs: Long = bookkeeping.get

  def withOp[A](op: Long)(f: => A): A = {
    val prev = currentOp.get
    currentOp.set(op)
    try f finally currentOp.set(prev)
  }

  def span[A](name: String)(f: => A): A =
    if (!enabled || paused) f
    else {
      val b0 = System.nanoTime()
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      bookkeeping.addAndGet(t0 - b0)
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        spans.add(Span(id, parents.headOption.getOrElse(0L), currentOp.get, name, t0, t1))
        bookkeeping.addAndGet(System.nanoTime() - t1)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, all.sortBy(_.id).map(_.json).asJava)
  }
}

/** Per-job-group task totals, collected by [[SparkStats]]. */
final class GroupTotals {
  var jobs = 0L; var jobWallMs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var deserializeMs = 0L; var schedulerDelayMs = 0L; var gcMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var input = 0L
  def +=(o: GroupTotals): Unit = {
    jobs += o.jobs; jobWallMs += o.jobWallMs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; deserializeMs += o.deserializeMs; schedulerDelayMs += o.schedulerDelayMs
    gcMs += o.gcMs; shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; input += o.input
  }
}

/** Spark listener keyed by job group: each benchmark operation runs under
  * its own group, so task metrics attribute to the operation that caused
  * them. Callback time is accumulated as part of the tracing overhead.
  */
final class SparkStats extends SparkListener {
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  private val groups = new java.util.concurrent.ConcurrentHashMap[String, GroupTotals]()
  private val callbackNs = new AtomicLong(0)

  private def totals(g: String): GroupTotals = groups.computeIfAbsent(g, _ => new GroupTotals)

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally callbackNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    val t = totals(g)
    t.synchronized { t.jobs += 1 }
    jobStart.put(e.jobId, (g, e.time))
    e.stageIds.foreach(s => stageGroup.put(s, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobStart.remove(e.jobId)).foreach { case (g, start) =>
      val t = totals(g)
      t.synchronized { t.jobWallMs += e.time - start }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val t = totals(stageGroup.getOrDefault(e.stageInfo.stageId, "none"))
    t.synchronized { t.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null) {
      val t = totals(stageGroup.getOrDefault(e.stageId, "none"))
      val info = e.taskInfo
      t.synchronized {
        t.tasks += 1
        t.runMs += m.executorRunTime
        t.deserializeMs += m.executorDeserializeTime
        t.schedulerDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        t.gcMs += m.jvmGCTime
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.input += m.inputMetrics.bytesRead
      }
    }
  }

  def callbackSeconds: Double = callbackNs.get / 1e9

  /** Totals over the job groups accepted by `keep`. */
  def sum(keep: String => Boolean): GroupTotals = {
    val out = new GroupTotals
    groups.asScala.foreach { case (g, t) => if (keep(g)) t.synchronized { out += t } }
    out
  }
}

object SparkStats {
  def install(sc: SparkContext): SparkStats = {
    val s = new SparkStats
    sc.addSparkListener(s)
    s
  }
  def drain(sc: SparkContext): Unit = org.apache.spark.ListenerBusDrain(sc)
}
