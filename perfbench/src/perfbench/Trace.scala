package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** One span: a timed call into a layer, under the trace id of the batch
  * or query that caused it. `spark` holds the engine counters charged
  * to it (see [[Tracer.sparkCounters]]).
  */
final class Span(val id: Long, val traceId: Long, val parent: Long,
    val name: String, val startNs: Long) {
  @volatile var endNs: Long = -1L
  val spark = new Array[Double](Tracer.sparkCounters.length)
  def ms: Double = (endNs - startNs) / 1e6
  def counter(name: String): Double = spark(Tracer.sparkCounters.indexOf(name))
}

/** In-memory span recorder with a SparkListener that charges task
  * metrics to the innermost active span. A span sets its id as the
  * thread's Spark job group, so jobs started by the calling thread are
  * attributed exactly; jobs started elsewhere (a streaming query's own
  * thread) go to the innermost span opened most recently on any thread.
  * When disabled, [[span]] only runs its body.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val t0 = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  @volatile private var latest: Span = _
  private val stageSpan = new ConcurrentHashMap[Int, Span]()

  if (enabled) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
      val s = group.flatMap(g => g.toLongOption).flatMap(i => Option(byId.get(i)))
        .orElse(Option(latest))
      s.foreach(sp => e.stageIds.foreach(st => stageSpan.put(st, sp)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val sp = stageSpan.get(e.stageId)
      if (m != null && sp != null) sp.spark.synchronized {
        sp.spark(0) += m.executorRunTime
        sp.spark(1) += m.executorCpuTime / 1e6
        sp.spark(2) += m.jvmGCTime
        sp.spark(3) += m.inputMetrics.bytesRead
        sp.spark(4) += m.shuffleWriteMetrics.bytesWritten
        sp.spark(5) += m.memoryBytesSpilled + m.diskBytesSpilled
        sp.spark(6) += 1
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      val sp = latest
      if (sp != null && info.blockId.isInstanceOf[RDDBlockId] &&
          !info.storageLevel.isValid) sp.spark.synchronized { sp.spark(7) += 1 }
    }
  })

  /** Run `body` as a span named `name`; `root` starts a new trace. */
  def span[T](name: String, root: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      val outer = stack.get()
      val parent = if (root || outer.isEmpty) null else outer.head
      val id = ids.incrementAndGet()
      val s = new Span(id, if (parent == null) id else parent.traceId,
        if (parent == null) 0L else parent.id, name, System.nanoTime())
      byId.put(id, s); spans.add(s)
      stack.set(s :: outer); latest = s
      sc.setJobGroup(id.toString, name)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.set(outer)
        if (parent != null) { sc.setJobGroup(parent.id.toString, parent.name); latest = parent }
        else sc.clearJobGroup()
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time: duration minus the union of the child spans' intervals. */
  def selfMs(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    (s.endNs - s.startNs - covered) / 1e6
  }

  /** Spark counters summed over the spans that match `p` and their
    * descendants.
    */
  def sparkTotals(p: Span => Boolean): Array[Double] = {
    val ss = all
    val parent = ss.map(s => s.id -> s.parent).toMap
    val hit = ss.filter(p).map(_.id).toSet
    def under(id: Long): Boolean = id != 0 && (hit(id) || under(parent.getOrElse(id, 0L)))
    val tot = new Array[Double](Tracer.sparkCounters.length)
    ss.filter(s => under(s.id)).foreach(s => s.spark.indices.foreach(i => tot(i) += s.spark(i)))
    tot
  }

  /** Write every span as one JSON line, followed by a per-name summary. */
  def write(path: java.nio.file.Path): Unit = {
    val ss = all.filter(_.endNs >= 0)
    val kids = ss.groupBy(_.parent)
    val self = ss.map(s => s.id -> selfMs(s, kids.getOrElse(s.id, Nil))).toMap
    val lines = ss.sortBy(_.startNs).map { s =>
      Json.write(ListMap("trace" -> s.traceId, "span" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> (s.startNs - t0) / 1e6,
        "end_ms" -> (s.endNs - t0) / 1e6, "self_ms" -> self(s.id)) ++
        Tracer.sparkCounters.zip(s.spark.toSeq))
    }
    val summary = ss.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, g) =>
      Json.write(ListMap("summary" -> n, "count" -> g.size,
        "total_ms" -> g.map(_.ms).sum, "self_ms" -> g.map(s => self(s.id)).sum))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      (lines ++ summary).mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val sparkCounters = Seq("task_run_ms", "task_cpu_ms", "task_gc_ms", "input_bytes",
    "shuffle_write_bytes", "spill_bytes", "tasks", "dropped_cached_blocks")
}

/** The result lines and the spans file, through Spark's own Jackson. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}
