package perfbench

import graft.cloudfront.CloudFrontLogs
import graft.streaming.CloudFrontStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The write path as a user runs it: raw log files land in a watched
  * directory, one file per micro-batch, and a file stream feeds
  * `CloudFrontStream.toTimestreamStore` into a store made by `initStore`.
  */
final class CfStream(ctx: Ctx, name: String) {
  import ctx.spark
  val measures = Seq("sc_bytes", "time_taken")
  val dimensions = Seq("x_edge_location", "c_country", "sc_status",
    "x_edge_result_type", "cs_uri_stem")
  val store: Path = ctx.opts.work.resolve(s"$name-store")
  private val incoming = ctx.dir(s"$name-incoming")
  private val staging = ctx.dir(s"$name-staging")
  private val markers = store.resolve("_graft_commits")
  var files = 0
  var inputBytes = 0L

  CloudFrontStream.initStore(spark, store.toString, retentionDays = 30)
  private val query = CloudFrontStream.toTimestreamStore(
    spark.readStream.format("text").option("maxFilesPerTrigger", "1")
      .load(incoming.toString).withColumnRenamed("value", "line"),
    store.toString, ctx.dir(s"$name-checkpoint").toString, measures, dimensions)

  private def committed: Int =
    if (!Files.exists(markers)) 0
    else Files.list(markers).iterator().asScala.count(!_.getFileName.toString.startsWith("."))

  /** Make one file visible to the stream and wait for its commit; the
    * returned nanoseconds run from visibility to the commit marker.
    */
  def ingest(f: CfFile): Long = {
    val staged = staging.resolve(f"batch-${f.index}%06d.log")
    Files.write(staged, f.text)
    val t0 = System.nanoTime()
    Files.move(staged, incoming.resolve(staged.getFileName),
      StandardCopyOption.ATOMIC_MOVE)
    files += 1
    // processAllAvailable can return on an idle trigger that listed the
    // directory just before the move, so wait for this batch's marker
    while (committed < files) query.processAllAvailable()
    val dt = System.nanoTime() - t0
    inputBytes += f.text.length
    dt
  }

  def stop(): Unit = query.stop()

  /** The parse and melt the stream ran on file `f`, each on its own
    * into a no-op sink for the traced run's spans: the batch's lines are
    * cached first and the parsed columns cached before the melt, so
    * each span holds one step and no file read. Call it after the
    * file's trigger, so that it does not warm the timed path.
    */
  def probe(f: CfFile): Unit = {
    val text = spark.createDataset(new String(f.text, UTF_8).split('\n').toSeq)(Encoders.STRING)
      .toDF("line").cache()
    text.count()
    val parsed = CloudFrontLogs.parse(text)
      .select((Seq("timestamp") ++ measures ++ dimensions).map(col): _*)
    ctx.tracer.span("cloudfront.parse")(parsed.write.format("noop").mode("overwrite").save())
    parsed.cache().count()
    val records = CloudFrontLogs.toRecords(parsed, measures, dimensions)
      .withColumn("day", to_date(col("time")))
    ctx.tracer.span("cloudfront.melt")(records.write.format("noop").mode("overwrite").save())
    parsed.unpersist(blocking = true); text.unpersist(blocking = true)
  }

  /** Per batch id: (data files, distinct partitions) it published. The
    * store names each batch's files `<stream tag>-<batch id>-<part>`.
    */
  def perBatchLayout(): Map[Long, (Int, Int)] = {
    val re = "^[0-9a-f]{12}-(\\d+)-.*".r
    Stats.dataFiles(store).flatMap { p =>
      p.getFileName.toString match {
        case re(id) => Some(id.toLong -> p.getParent.toString)
        case _ => None
      }
    }.groupBy(_._1).map { case (id, fs) => id -> (fs.size, fs.map(_._2).distinct.size) }
  }

  /** Check the store against the generator's tallies: totals and counts
    * per (measure, day), and the malformed lines (NULL time rows).
    * Returns the store's (rows, malformed lines).
    */
  def check(ctx: Ctx, tallies: Map[(String, Long), (Double, Long)],
      lines: Long, malformed: Long): (Long, Long) = {
    val rows = spark.read.parquet(store.toString)
      .groupBy(col("measure_name"), unix_date(col("day")).as("d"))
      .agg(sum(col("measure_value")).as("s"), count(lit(1)).as("n"))
      .collect()
    val got = rows.filter(!_.isNullAt(1)).map(r =>
      (r.getString(0), r.getInt(1).toLong) -> (r.getDouble(2), r.getLong(3))).toMap
    val nullRows = rows.filter(_.isNullAt(1)).map(_.getLong(3)).sum
    val storeMalformed = nullRows / measures.size
    tallies.toSeq.sortBy(_._1).foreach { case (k, (s, n)) =>
      val ok = got.get(k).exists { case (gs, gn) =>
        gn == n && math.abs(gs - s) <= 1e-9 * math.max(1.0, math.abs(s)) }
      ctx.op(ok, s"store total for $k: expected ($s, $n), got ${got.get(k)}")
    }
    ctx.op(got.keySet == tallies.keySet,
      s"store (measure, day) cells ${got.keySet.size} != expected ${tallies.keySet.size}")
    ctx.op(storeMalformed == malformed && nullRows % measures.size == 0,
      s"malformed lines in store $storeMalformed (rows $nullRows) != planted $malformed")
    val total = rows.map(_.getLong(3)).sum
    ctx.op(total == lines * measures.size,
      s"store rows $total != ${measures.size} x $lines lines")
    (total, storeMalformed)
  }
}

object CfIngest {
  def shape(tiny: Boolean): CfShape =
    if (tiny) CfShape(files = 12, linesPerFile = 300, secondsPerFile = 3600 * 4)
    else CfShape(files = 100000, linesPerFile = 2000, secondsPerFile = 3600)
  /** Batches committed before timing starts: per-batch latency keeps
    * falling over the first few dozen batches as the JIT compiles the
    * commit path on the Spark driver.
    */
  val warmupFiles = 6
  /** Store size is read after this many timed batches, so the ratio is
    * a pure function of the seed.
    */
  val ratioBatches = 20

  def run(ctx: Ctx): Unit = {
    import ctx.{tracer => tr}
    val sh = shape(ctx.opts.tiny)
    val s = new CfStream(ctx, "cf")
    var tallies = Map.empty[(String, Long), (Double, Long)]
    var lines = 0L; var malformed = 0L; var late = 0L
    def account(f: CfFile): Unit = {
      f.tallies.foreach { case (k, (v, n)) =>
        val (a, b) = tallies.getOrElse(k, (0.0, 0L)); tallies += k -> (a + v, b + n) }
      lines += f.lines; malformed += f.malformed; late += f.late
    }
    ctx.phase("stream_start")
    val (warm, ratioAt) = if (ctx.opts.tiny) (2, 2) else (warmupFiles, ratioBatches)
    (0 until warm).foreach { i =>
      val f = CfGen.file(ctx.opts.seed, sh, i, None)
      s.ingest(f); account(f)
    }
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    var timedLines = 0L
    var ratio = -1.0
    ctx.startTimed()
    val t0 = System.nanoTime()
    var i = warm
    while (ctx.windowOpen(t0, lat.size) && i < sh.files) {
      val f = CfGen.file(ctx.opts.seed, sh, i, None)
      if (tr.enabled) tr.span("batch", root = true) {
        ctx.attempt(s"batch $i") { tr.span("streaming.trigger") { s.ingest(f) } }
          .foreach(ns => lat += ns / 1e6)
        s.probe(f)
      } else ctx.attempt(s"batch $i")(s.ingest(f)).foreach(ns => lat += ns / 1e6)
      account(f); timedLines += f.lines
      i += 1
      if (lat.size == ratioAt) ratio = Stats.dirBytes(s.store).toDouble / s.inputBytes
    }
    val windowS = lat.sum / 1000.0
    if (ratio < 0) ratio = Stats.dirBytes(s.store).toDouble / s.inputBytes
    s.stop()
    val reference = if (!ctx.opts.perturb) tallies
      else tallies.map { case (k, (v, n)) => k -> (v + 1, n) }
    val (storeRows, storeMalformed) = s.check(ctx, reference, lines, malformed)
    ctx.e2e("setup_s") = (ctx.setupS, "s")
    ctx.e2e("throughput_per_s") = (timedLines / windowS, "1/s")
    ctx.e2e("latency_p50_ms") = (Stats.pct(lat.toSeq, 50), "ms")
    ctx.e2e("latency_p75_ms") = (Stats.pct(lat.toSeq, 75), "ms")
    ctx.e2e("store_bytes_per_input_byte") = (ratio, "ratio")
    ctx.details("latency_ms_by_fifth") = Stats.drift(lat.toSeq)
    ctx.details("samples") = Map("latency" -> lat.size)
    ctx.details("meaning") = Map("throughput_per_s" -> "log lines ingested per second",
      "latency_ms" -> "file visible to store commit, per micro-batch")
    ctx.details("input") = sh.copy(files = s.files).describe ++ Map(
      "lines" -> lines, "malformed_lines" -> malformed, "late_lines" -> late,
      "input_bytes" -> s.inputBytes, "warmup_batches" -> warm,
      "store_ratio_after_batches" -> (warm + ratioAt))
    if (ctx.tracer.enabled) {
      // per batch: the trigger's wall time, and the parse and melt task
      // CPU time of the same file; the commit is the rest of the trigger
      val batches = tr.all.groupBy(_.traceId).values.flatMap { ss =>
        def one(n: String) = ss.find(_.name == n)
        for (t <- one("streaming.trigger"); p <- one("cloudfront.parse");
             m <- one("cloudfront.melt"))
          yield (t.ms, p.counter("task_cpu_ms"), m.counter("task_cpu_ms"))
      }.toSeq
      val layout = s.perBatchLayout().values.toSeq
      Layers.cloudfront(ctx, Stats.median(batches.map(_._2)), Stats.median(batches.map(_._3)),
        storeRows.toDouble / lines, storeMalformed)
      Layers.streaming(ctx, commitMs = Stats.median(batches.map { case (t, p, m) => t - p - m }),
        partitionsPerBatch = Stats.median(layout.map(_._2.toDouble)),
        filesPerBatch = Stats.median(layout.map(_._1.toDouble)),
        storeFiles = Stats.dataFiles(s.store).size, processBatchMs = 0)
      Layers.timeseries(ctx, Map.empty)
      Layers.sources(ctx, 0, 0, 0, 0, 0, 0, 0)
      Layers.spark(ctx, _.name == "streaming.trigger", windowS)
      Layers.traced(ctx, timedLines / windowS, Stats.pct(lat.toSeq, 50))
    }
  }
}
