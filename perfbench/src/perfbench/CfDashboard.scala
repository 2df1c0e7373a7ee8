package perfbench

import graft.streaming.CloudFrontStream
import graft.timeseries.TimeSeries
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** One dashboard query: the DataFrame it runs over a fresh read of the
  * store, how its rows map to keyed values, and its reference answer.
  */
final case class DashQuery(name: String, build: DataFrame => DataFrame,
    answer: Array[Row] => Map[String, Seq[Double]],
    reference: Map[String, Seq[Double]])

/** The read path: two closed-loop clients cycle through a fixed mix of
  * Timestream-style queries over a store built exactly as in cf_ingest.
  */
object CfDashboard {
  /** cf_ingest's files, one per micro-batch: files 20-27 of its stream
    * (20:00 to 04:00, so the store holds two event-days and `ago(1h)`
    * needs only the second).
    */
  def shape(tiny: Boolean): CfShape =
    CfIngest.shape(tiny).copy(files = if (tiny) 12 else 8)
  def firstFile(tiny: Boolean): Int = if (tiny) 0 else 20
  val clients = 2
  /** Queries run before timing starts: the planner's code paths are
    * still getting faster after the first dozens of queries.
    */
  val warmupQueries = 24
  /** Timed queries a run needs: queries share the cores with each other
    * and with the JIT compiler, so a run needs more of them than the
    * default to give a steady median.
    */
  val minQueries = 56

  private def epoch(t: LocalDateTime): Long = t.toEpochSecond(ZoneOffset.UTC)

  def queries(r: CfRecords, fixedDay: LocalDate): Seq[DashQuery] = {
    val time = r.time.result(); val edge = r.edge.result()
    val country = r.country.result(); val result = r.result.result()
    val uri = r.uri.result(); val bytes = r.scBytes.result()
    val taken = r.timeTaken.result()
    val anchor = time.max
    val idx = time.indices
    def since(s: Long) = idx.filter(i => time(i) >= anchor - s)
    def hour(t: Long) = t - Math.floorMod(t, 3600L)
    val e = CfGen.edges; val c = CfGen.countries
    val sc = col("measure_name") === "sc_bytes"
    val dim = (d: String) => col("dimensions")(d)

    val headline = DashQuery("headline_24h",
      st => TimeSeries.ago(st, "time", 24 * 3600L)
        .filter(col("measure_name").isin("sc_bytes"))
        .groupBy(TimeSeries.bin(col("time"), 3600).cast(TimestampNTZType).as("binned_time"),
          dim("x_edge_location").as("x_edge_location"))
        .agg(sum(when(sc, col("measure_value").cast(LongType))).as("sum_bytes_downloaded")),
      rows => rows.map(x => s"${epoch(x.getAs[LocalDateTime](0))}|${x.getString(1)}" ->
        Seq(x.getLong(2).toDouble)).toMap,
      since(24 * 3600L).groupBy(i => s"${hour(time(i))}|${e(edge(i))}")
        .map { case (k, is) => k -> Seq(is.map(bytes(_)).sum.toDouble) })

    val country1h = DashQuery("country_1h",
      st => TimeSeries.ago(st.filter(sc), "time", 3600L)
        .groupBy(dim("c_country").as("c_country"))
        .agg(count(lit(1)).as("requests"), sum(col("measure_value")).as("bytes")),
      rows => rows.map(x => x.getString(0) -> Seq(x.getLong(1).toDouble, x.getDouble(2))).toMap,
      since(3600L).groupBy(i => c(country(i)))
        .map { case (k, is) => k -> Seq(is.size.toDouble, is.map(bytes(_)).sum.toDouble) })

    val series7d = DashQuery("edge_series_7d",
      st => TimeSeries.createTimeSeries(
        TimeSeries.ago(st.filter(col("measure_name") === "time_taken"), "time", 7 * 86400L)
          .groupBy(dim("x_edge_location").as("edge"), TimeSeries.bin(col("time"), 3600).as("t"))
          .agg(sum(col("measure_value")).as("v")),
        col("edge"), col("t"), col("t"), col("v")),
      rows => rows.map(x => x.getString(0) -> x.getSeq[Double](1)).toMap,
      since(7 * 86400L).groupBy(i => e(edge(i))).map { case (k, is) =>
        k -> is.groupBy(i => hour(time(i))).toSeq.sortBy(_._1)
          .map { case (_, hs) => hs.map(taken(_)).sum } })

    val day = fixedDay.toEpochDay
    val hitDay = DashQuery("cache_hit_day",
      st => st.filter(sc && col("day") === lit(fixedDay))
        .groupBy(dim("x_edge_location").as("edge"))
        .agg(sum(when(dim("x_edge_result_type") === "Hit", 1L).otherwise(0L)).as("hits"),
          count(lit(1)).as("total"))
        .withColumn("hit_ratio", col("hits") / col("total")),
      rows => rows.map(x => x.getString(0) ->
        Seq(x.getLong(1).toDouble, x.getLong(2).toDouble, x.getDouble(3))).toMap,
      idx.filter(i => Math.floorDiv(time(i), 86400L) == day).groupBy(i => e(edge(i)))
        .map { case (k, is) =>
          val hits = is.count(i => result(i) == 0)
          k -> Seq(hits.toDouble, is.size.toDouble, hits.toDouble / is.size) })

    val topUris = DashQuery("top_uris_24h",
      st => CloudFrontStream.rankTop(
        TimeSeries.ago(st.filter(sc), "time", 24 * 3600L)
          .groupBy(TimeSeries.bin(col("time"), 3600).as("window"),
            dim("cs_uri_stem").as("cs_uri_stem"))
          .agg(count(lit(1)).as("n_requests"), sum(col("measure_value")).as("total_bytes")),
        10),
      rows => rows.map(x => s"${x.getAs[java.sql.Timestamp](0).getTime / 1000}|${x.getInt(4)}|${x.getString(1)}" ->
        Seq(x.getLong(2).toDouble, x.getDouble(3))).toMap,
      since(24 * 3600L).groupBy(i => hour(time(i))).flatMap { case (h, is) =>
        is.groupBy(i => uri(i)).toSeq
          .map { case (u, us) => (CfGen.uriName(u), us.size.toDouble, us.map(bytes(_)).sum.toDouble) }
          .sortBy { case (n, _, b) => (-b, n) }.take(10).zipWithIndex
          .map { case ((n, cnt, b), rank) => s"$h|${rank + 1}|$n" -> Seq(cnt, b) }
      })

    Seq(headline, country1h, series7d, hitDay, topUris)
  }

  /** Keys equal and values within 1e-9 relative (sums of doubles differ
    * in the last bits with summation order).
    */
  def same(a: Map[String, Seq[Double]], b: Map[String, Seq[Double]]): Boolean =
    a.keySet == b.keySet && a.forall { case (k, xs) =>
      val ys = b(k)
      xs.length == ys.length && xs.zip(ys).forall { case (x, y) =>
        math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y)) }
    }

  /** File scans of an executed plan, through adaptive stages and reuse. */
  def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case r: ReusedExchangeExec => scans(r.child)
    case f: FileSourceScanExec => Seq(f)
    case o => o.children.flatMap(scans) ++ o.subqueries.flatMap(scans)
  }

  final case class Sample(q: String, ms: Double, planMs: Double, execMs: Double,
      files: Double, rowsRatio: Double)

  def run(ctx: Ctx): Unit = {
    import ctx.{spark, tracer => tr}
    val sh = shape(ctx.opts.tiny)
    val recs = new CfRecords
    val s = new CfStream(ctx, "dash")
    var lines = 0L; var malformed = 0L
    val tallies = mutable.Map.empty[(String, Long), (Double, Long)]
    (0 until sh.files).foreach { i =>
      val f = CfGen.file(ctx.opts.seed, sh, firstFile(ctx.opts.tiny) + i, Some(recs))
      s.ingest(f)
      lines += f.lines; malformed += f.malformed
      f.tallies.foreach { case (k, (v, n)) =>
        val (a, b) = tallies.getOrElse(k, (0.0, 0L)); tallies(k) = (a + v, b + n) }
    }
    s.stop()
    s.check(ctx, tallies.toMap, lines, malformed)
    val ratio = Stats.dirBytes(s.store).toDouble / s.inputBytes
    val fixedDay = LocalDate.ofEpochDay(CfGen.startEpoch / 86400 + 1)
    ctx.phase("store_build")
    val qs0 = queries(recs, fixedDay)
    val qs = if (!ctx.opts.perturb) qs0
      else qs0.map(q => q.copy(reference = q.reference.map { case (k, v) => k -> v.map(_ + 1) }))
    val store = s.store.toString
    ctx.phase("reference_answers")

    def execute(q: DashQuery): Option[Sample] =
      ctx.attempt(q.name) {
        tr.span(q.name, root = true) {
          val t0 = System.nanoTime()
          val df = q.build(spark.read.parquet(store))
          val plan = tr.span("timeseries.plan")(df.queryExecution.executedPlan)
          val t1 = System.nanoTime()
          val rows = tr.span("timeseries.exec")(df.collect())
          val t2 = System.nanoTime()
          val got = q.answer(rows)
          ctx.op(same(got, q.reference), s"${q.name}: answer differs from the reference " +
            s"(${got.size} keys vs ${q.reference.size})")
          val (files, read) = if (!tr.enabled) (0.0, 0.0) else {
            val sc = scans(plan)
            (sc.map(_.metrics("numFiles").value).sum.toDouble,
              sc.map(_.metrics("numOutputRows").value).sum.toDouble)
          }
          Sample(q.name, (t2 - t0) / 1e6, (t1 - t0) / 1e6, (t2 - t1) / 1e6, files,
            read / math.max(1, rows.length))
        }
      }

    // both clients cycle the mix, each from its own offset, while `more`
    def drive(more: Int => Boolean): Seq[Sample] = {
      val out = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
      val threads = (0 until clients).map { c =>
        new Thread(() => {
          var k = c * 2
          while (more(out.size)) {
            execute(qs(k % qs.size)).foreach(out.add)
            k += 1
          }
        }, s"dash-client-$c")
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      import scala.jdk.CollectionConverters._
      out.asScala.toSeq
    }
    drive(_ < (if (ctx.opts.tiny) qs.size else warmupQueries))
    ctx.startTimed()
    val t0 = System.nanoTime()
    val all = drive(n => ctx.windowOpen(t0, n, if (ctx.opts.tiny) 3 else minQueries))
    val windowS = (System.nanoTime() - t0) / 1e9
    val lat = all.map(_.ms)
    ctx.e2e("setup_s") = (ctx.setupS, "s")
    ctx.e2e("throughput_per_s") = (all.size / windowS, "1/s")
    ctx.e2e("latency_p50_ms") = (Stats.pct(lat, 50), "ms")
    ctx.e2e("latency_p75_ms") = (Stats.pct(lat, 75), "ms")
    ctx.e2e("store_bytes_per_input_byte") = (ratio, "ratio")
    ctx.details("latency_ms_by_fifth") = Stats.drift(lat)
    ctx.details("samples") = Map("latency" -> lat.size) ++
      all.groupBy(_.q).map { case (q, ss) => s"latency.$q" -> ss.size }
    ctx.details("latency_p50_ms_per_query") =
      all.groupBy(_.q).map { case (q, ss) => q -> Stats.median(ss.map(_.ms)) }
    ctx.details("meaning") = Map("throughput_per_s" -> "dashboard queries answered per second",
      "latency_ms" -> "query submit to collected answer")
    ctx.details("input") = sh.describe ++ Map("lines" -> lines,
      "malformed_lines" -> malformed, "input_bytes" -> s.inputBytes,
      "clients" -> clients, "cache_hit_day" -> fixedDay.toString,
      "store_files" -> Stats.dataFiles(s.store).size)
    if (tr.enabled) {
      val layout = s.perBatchLayout().values.toSeq
      Layers.cloudfront(ctx, 0, 0, 0, 0)
      Layers.streaming(ctx, 0, Stats.median(layout.map(_._2.toDouble)),
        Stats.median(layout.map(_._1.toDouble)), Stats.dataFiles(s.store).size, 0)
      Layers.timeseries(ctx, all.groupBy(_.q).map { case (q, ss) =>
        q -> (Stats.median(ss.map(_.planMs)), Stats.median(ss.map(_.execMs)),
          Stats.median(ss.map(_.files)), Stats.median(ss.map(_.rowsRatio))) })
      Layers.sources(ctx, 0, 0, 0, 0, 0, 0, 0)
      Layers.spark(ctx, sp => sp.parent == 0 && sp.startNs >= t0, windowS)
      Layers.traced(ctx, all.size / windowS, Stats.pct(lat, 50))
    }
  }
}
