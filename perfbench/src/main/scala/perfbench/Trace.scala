package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call. `call` is the id of the outermost span the call runs
  * under, so every span of one operation shares it. Times: `t0`/`t1` are
  * `System.nanoTime`, `w0`/`w1` wall-clock milliseconds (Spark event times
  * are wall-clock milliseconds, so job attribution compares against those).
  */
final case class Span(id: Int, name: String, layer: String, parent: Int, call: Int,
                      t0: Long, t1: Long, w0: Long, w1: Long) {
  def sec: Double = (t1 - t0) / 1e9
}

/** Per-stage task totals, summed over the stage's tasks. */
final class StageRec(val id: Int) {
  var submitMs = 0L
  var endMs = 0L
  var tasks = 0
  var cpuNs = 0L
  var gcMs = 0L
  var inBytes = 0L
  var outBytes = 0L
  var shWrite = 0L
  var shRead = 0L
  val durMs = ArrayBuffer.empty[Long]
}

final class JobRec(val id: Int, val group: Option[String], val submitMs: Long,
                   val stageIds: Seq[Int])

/** Collects job, stage and task metrics of one SparkContext. */
final class Collector extends SparkListener {
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = scala.collection.mutable.Map.empty[Int, StageRec]

  private def stage(id: Int): StageRec = stages.getOrElseUpdate(id, new StageRec(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.JobGroupKey)))
    jobs += new JobRec(e.jobId, group, e.time, e.stageIds)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.submitMs = e.stageInfo.submissionTime.getOrElse(0L)
    s.endMs = e.stageInfo.completionTime.getOrElse(s.submitMs)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    s.durMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inBytes += m.inputMetrics.bytesRead
      s.outBytes += m.outputMetrics.bytesWritten
      s.shWrite += m.shuffleWriteMetrics.bytesWritten
      s.shRead += m.shuffleReadMetrics.totalBytesRead
    }
  }
}

/** Spark cost of a set of spans: the jobs attributed to them, their stages
  * and tasks, and the part of the spans' wall time no stage was running.
  */
final case class Cost(wallS: Double, jobs: Int, stages: Int, tasks: Int, cpuS: Double,
                      gcS: Double, inBytes: Long, outBytes: Long, shWrite: Long,
                      shRead: Long, gapS: Double, skew: Double) {
  def cpuUtil(cores: Int): Double = if (wallS <= 0) 0.0 else cpuS / (wallS * cores)
}

/** In-memory span recorder around the benchmark's calls into the engine.
  *
  * When on, each span sets a Spark job group `perfbench-<span id>` on the
  * calling thread, so a job the call submits is attributed to it. Jobs that
  * run under a group the engine sets itself, or from a thread that did not
  * inherit the group, are attributed by submission time to the innermost
  * span open at that moment (the benchmark has one client, so spans never
  * overlap except by nesting). When off, spans cost one branch and record
  * nothing.
  */
final class Tracer(var on: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private var open: List[(Int, String, String, Int, Long, Long)] = Nil
  private var nextId = 1
  private val collectors = ArrayBuffer.empty[(SparkContext, Collector)]
  private var sc: SparkContext = _

  /** Register a collector on a SparkContext (each session width has its
    * own); a no-op while tracing is off or when one is registered already. */
  def attach(ctx: SparkContext): Unit = {
    sc = ctx
    if (on && !collectors.exists(_._1 eq ctx)) {
      val c = new Collector
      ctx.addSparkListener(c)
      collectors += ctx -> c
    }
  }

  def span[A](name: String, layer: String)(f: => A): A =
    if (!on) f
    else {
      val id = nextId
      nextId += 1
      val call = open.lastOption.map(_._1).getOrElse(id)
      val prevGroup = Option(sc).flatMap(c => Option(c.getLocalProperty(Tracer.JobGroupKey)))
      open = (id, name, layer, call, System.nanoTime(), System.currentTimeMillis()) :: open
      if (sc != null) sc.setJobGroup(s"perfbench-$id", name)
      try f
      finally {
        val (_, n, l, c, t0, w0) = open.head
        open = open.tail
        done += Span(id, n, l, open.headOption.map(_._1).getOrElse(0), c,
          t0, System.nanoTime(), w0, System.currentTimeMillis())
        if (sc != null) prevGroup match {
          case Some(g) => sc.setJobGroup(g, g)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Wait until every collector has seen all events posted so far. */
  def drain(): Unit = collectors.foreach { case (ctx, _) =>
    if (!ctx.isStopped) org.apache.spark.PerfbenchBus.drain(ctx)
  }

  private def children(p: Span): Seq[Span] = done.filter(_.parent == p.id).toSeq

  private def descendants(p: Span): Set[Int] = {
    val kids = children(p)
    kids.map(_.id).toSet ++ kids.flatMap(descendants)
  }

  /** Innermost span open at wall time `ms`, if any. */
  private def spanAt(ms: Long): Option[Span] =
    done.filter(s => s.w0 <= ms && ms <= s.w1).sortBy(s => -s.w0).headOption

  /** job id -> span id, per collector. */
  private def attribution: Seq[(Collector, JobRec, Int)] = collectors.toSeq.flatMap { case (_, c) =>
    c.synchronized(c.jobs.toSeq).flatMap { j =>
      val byGroup = j.group.filter(_.startsWith("perfbench-"))
        .map(_.stripPrefix("perfbench-").toInt)
      byGroup.orElse(spanAt(j.submitMs).map(_.id)).map(id => (c, j, id))
    }
  }

  /** Summed length of the union of intervals, each clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Cost of the given spans (and everything nested in them). */
  def cost(of: Seq[Span]): Cost = {
    val ids = of.flatMap(s => descendants(s) + s.id).toSet
    val jobs = attribution.filter(a => ids.contains(a._3))
    val stages = jobs.flatMap { case (c, j, _) =>
      c.synchronized(j.stageIds.flatMap(c.stages.get)) }.distinct.filter(_.tasks > 0)
    val wallMs = of.map(s => s.w1 - s.w0).sum
    val busyMs = of.map(s => covered(stages.map(st => (st.submitMs, st.endMs)), s.w0, s.w1)).sum
    // skew of the stage that read the most shuffle bytes
    val skew = stages.filter(_.shRead > 0).sortBy(-_.shRead).headOption.map { st =>
      val d = st.durMs.sorted
      val med = d(d.length / 2).toDouble
      if (med <= 0) 1.0 else d.last / med
    }.getOrElse(0.0)
    Cost(of.map(_.sec).sum, jobs.size, stages.size, stages.map(_.tasks).sum,
      stages.map(_.cpuNs).sum / 1e9, stages.map(_.gcMs).sum / 1e3,
      stages.map(_.inBytes).sum, stages.map(_.outBytes).sum,
      stages.map(_.shWrite).sum, stages.map(_.shRead).sum,
      math.max(0L, wallMs - busyMs) / 1e3, skew)
  }

  def named(name: String): Seq[Span] = done.filter(_.name == name).toSeq

  /** Self time per layer inside `window`: each span's duration minus the
    * part of it its child spans cover.
    */
  def selfByLayer(window: Span): Map[String, Double] = {
    val inside = descendants(window)
    done.filter(s => inside.contains(s.id)).map { s =>
      val kids = children(s).map(k => (k.t0, k.t1))
      s.layer -> (s.t1 - s.t0 - covered(kids, s.t0, s.t1)) / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Share of `window` covered by the spans directly under it. */
  def coverage(window: Span): Double =
    covered(children(window).map(k => (k.t0, k.t1)), window.t0, window.t1).toDouble /
      math.max(1L, window.t1 - window.t0)

  /** Write every span as one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = done.sortBy(_.t0).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}","parent":${s.parent},""" +
        s""""call":${s.call},"start_ns":${s.t0},"end_ns":${s.t1}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  /** Local property under which Spark carries a thread's job group. */
  val JobGroupKey = "spark.jobGroup.id"
}
