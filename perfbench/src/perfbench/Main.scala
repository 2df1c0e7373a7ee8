package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Command-line options; see run.py for the user-facing contract. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: Path, cores: Int, spans: Option[Path],
    tiny: Boolean, perturb: Boolean)

/** Everything a workload reads and reports through. */
final class Ctx(val opts: Opts, val spark: SparkSession, val tracer: Tracer,
    val jvmStartMs: Long) {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val details = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  private var timedStartMs = -1L

  def dir(name: String): Path = Files.createDirectories(opts.work.resolve(name))

  /** Seconds from JVM start at which each set-up phase ended. */
  val phases = mutable.LinkedHashMap.empty[String, Double]
  def phase(name: String): Unit =
    phases(name) = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean
  /** Milliseconds the JIT compilers have spent so far. */
  def jitMs: Long = jit.getTotalCompilationTime
  var jitAtStartMs = 0L
  /** Collections and milliseconds this JVM's garbage collectors have run. */
  def gc: (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val bs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(b => math.max(0L, b.getCollectionCount)).sum, bs.map(b => math.max(0L, b.getCollectionTime)).sum)
  }
  var gcAtStart = (0L, 0L)

  /** Marks the first timed operation: everything before it is set-up. */
  def startTimed(): Unit = {
    phase("warm_up"); jitAtStartMs = jitMs; gcAtStart = gc
    timedStartMs = System.currentTimeMillis()
  }
  def setupS: Double = (timedStartMs - jvmStartMs) / 1000.0

  /** Count one operation; a false `ok` counts it as failed. */
  def op(ok: Boolean, what: => String): Unit = synchronized {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[perfbench] FAILED: $what") }
  }

  /** Run one operation and count it; an exception counts as a failure. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    val r = try Some(body)
      catch { case e: Exception =>
        System.err.println(s"[perfbench] $what threw ${e.getClass.getName}: ${e.getMessage}")
        None
      }
    op(r.isDefined, s"$what did not complete")
    r
  }

  /** Timed operations a run needs by default: p75 with seven samples
    * beyond it (a traced run reports medians: ten beyond its p50).
    */
  val minSamples: Int = if (opts.tiny) 3 else if (opts.trace) 20 else 30

  /** Keep running a closed loop while the window is open: at least
    * `seconds` of measurement and at least `min` operations, with a
    * hard stop at three windows so a slow machine still exits.
    */
  def windowOpen(t0: Long, samples: Int, min: Int = minSamples): Boolean = {
    val el = (System.nanoTime() - t0) / 1e9
    el < opts.seconds || (samples < min && el < 3 * opts.seconds)
  }
}

object Stats {
  /** Percentile `p` in [0, 100] with linear interpolation between ranks. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted.toIndexedSeq
    val x = p / 100.0 * (s.length - 1)
    val lo = math.floor(x).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (x - lo)
  }
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else pct(xs, 50)

  /** Medians of five consecutive slices of a run's samples: a trend
    * across them means the run is still warming up or degrading.
    */
  def drift(xs: Seq[Double]): Seq[Double] =
    if (xs.size < 5) Nil
    else (0 until 5).map(k => median(xs.slice(k * xs.size / 5, (k + 1) * xs.size / 5)))

  /** Bytes of every regular file under `root`. */
  def dirBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val st = Files.walk(root)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally st.close()
    }

  /** Data files (not hidden, not metadata) under `root`. */
  def dataFiles(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val st = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_") &&
            !root.relativize(p).iterator().asScala.exists(_.toString.startsWith("_"))
        }.toVector
      } finally st.close()
    }
}

object Main {
  val endToEnd = Seq("setup_s", "throughput_per_s", "latency_p50_ms",
    "latency_p75_ms", "store_bytes_per_input_byte")

  private def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Opts(get("--workload"), get("--seed").toLong, get("--seconds").toDouble,
      get("--trace") == "1", Paths.get(get("--work")).toAbsolutePath,
      m.get("--cores").map(_.toInt).getOrElse(4),
      m.get("--spans").map(Paths.get(_).toAbsolutePath),
      m.get("--tiny").contains("1"), m.get("--perturb").contains("1"))
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val o = parse(args)
    val workloads = Map[String, Ctx => Unit](
      "cf_ingest" -> CfIngest.run, "cf_dashboard" -> CfDashboard.run,
      "corpus_ingest" -> CorpusIngest.run)
    val body = workloads.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload ${o.workload}; " +
        s"one of ${workloads.keys.toSeq.sorted.mkString(", ")}"))
    val load0 = graft.SysStat.loadAvg
    val (st0, j0) = graft.SysStat.cpuSteal()
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.default.parallelism", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.maxPlanStringLength", (16 * 1024 * 1024).toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64KB")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(o, spark, new Tracer(o.trace, spark.sparkContext), jvmStartMs)
    ctx.phase("spark_ready")
    try body(ctx)
    catch { case e: Exception =>
      e.printStackTrace()
      ctx.op(ok = false, s"${o.workload} aborted: $e")
    }
    ctx.details("jit_compile_s") = Map("setup" -> ctx.jitAtStartMs / 1000.0,
      "timed" -> (ctx.jitMs - ctx.jitAtStartMs) / 1000.0)
    val (gcN, gcMs) = ctx.gc
    ctx.details("jvm_gc") = Map("setup_count" -> ctx.gcAtStart._1, "setup_ms" -> ctx.gcAtStart._2,
      "timed_count" -> (gcN - ctx.gcAtStart._1), "timed_ms" -> (gcMs - ctx.gcAtStart._2))
    val (st1, j1) = graft.SysStat.cpuSteal()
    ctx.details("sysstat") = Map("loadavg_1m_start" -> load0,
      "loadavg_1m_end" -> graft.SysStat.loadAvg,
      "steal_pct" -> graft.SysStat.stealPct(st0, j0, st1, j1))
    if (o.trace) o.spans.foreach { p =>
      ctx.tracer.write(p); ctx.details("spans_file") = p.toString
    }
    spark.stop()
    val metrics = if (o.trace) ctx.layer else ctx.e2e
    val wanted = if (o.trace) Nil else endToEnd
    val missing = wanted.filterNot(metrics.contains)
    if (missing.nonEmpty) ctx.op(ok = false, s"metrics not measured: ${missing.mkString(", ")}")
    ctx.details("setup_phases_end_s") = ctx.phases.toMap
    ctx.details("workload") = o.workload
    ctx.details("seed") = o.seed
    ctx.details("cores") = o.cores
    ctx.details("failed_op_share") = ctx.failed.toDouble / math.max(1L, ctx.attempted)
    println(Json.write(Map("perfbench" -> ctx.details.toMap)))
    val correct = ctx.failed == 0 && ctx.attempted > 0
    println(Json.write(Map("correct" -> correct,
      "attempted" -> math.max(1L, ctx.attempted), "failed" -> ctx.failed,
      "metrics" -> metrics.toSeq.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }.toMap)))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
