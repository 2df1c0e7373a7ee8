package perfbench

import graft.Caches
import graft.sources.{FingerprintStore, MinHashStore}
import graft.streaming.StreamingIngest
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The LLM-data loop: each batch is deduped against the persisted
  * fingerprint and MinHash history stores and its novel content is
  * folded back in, so the history grows as the run goes.
  */
object CorpusIngest {
  def shape(tiny: Boolean): CorpusShape =
    if (tiny) CorpusShape(historyDocs = 300, batchDocs = 40)
    else CorpusShape(historyDocs = 1000, batchDocs = 100)
  val warmupBatches = 3
  /** Timed batches a run needs: one batch takes 3-5 s, so a p50 with
    * ten samples beyond it would not fit the run's time budget.
    */
  val minBatches = 4
  val fp = "perfbench_fp"
  val mh = "perfbench_mh"

  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  def frame(spark: SparkSession, docs: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(docs.map { case (i, t) => Row(i, t) }.asJava, schema)

  /** The verdict columns the check reads, per doc_id. */
  final case class Verdict(isDup: Boolean, canonical: Long, nHist: Option[Long],
      histCanonical: Option[Long])

  private def verdicts(df: DataFrame): Map[Long, Verdict] =
    df.select("doc_id", "is_dup", "canonical_id", "n_hist_matches", "hist_canonical")
      .collect().map { r =>
        r.getLong(0) -> Verdict(r.getBoolean(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)))
      }.toMap

  /** processBatch's core, one public store call per span, in the order
    * processBatch runs them: exact probe, near probe on the exact
    * survivors, then the fingerprint and band appends.
    */
  private def decomposed(ctx: Ctx, batch: DataFrame): Map[Long, Verdict] = {
    import ctx.{spark, tracer => tr}
    val b = batch.localCheckpoint(true)
    val exact = tr.span("sources.fp_probe")(
      FingerprintStore.dedupAgainst(spark, fp, b).localCheckpoint(true))
    val survivors = b.join(exact.filter(!col("is_dup")).select("doc_id"), "doc_id")
      .localCheckpoint(true)
    val near = tr.span("sources.mh_probe")(
      MinHashStore.dedupAgainst(spark, mh, survivors).localCheckpoint(true))
    val kept = survivors.join(near.filter(col("n_hist_matches") === 0).select("doc_id"), "doc_id")
    tr.span("sources.fp_append")(FingerprintStore.append(spark, fp, b))
    tr.span("sources.mh_append")(MinHashStore.append(spark, mh, kept))
    val verdict = exact.select("doc_id", "canonical_id", "is_dup")
      .join(near.select("doc_id", "n_hist_matches", "hist_canonical"), Seq("doc_id"), "left")
    val v = verdicts(verdict)
    Seq(verdict, survivors, b).foreach(StreamingIngest.releaseBatch)
    Caches.releaseAll()
    v
  }

  private def viaProcessBatch(ctx: Ctx, batch: DataFrame): Map[Long, Verdict] = {
    val verdict = ctx.tracer.span("streaming.process_batch")(
      StreamingIngest.processBatch(ctx.spark, fp, mh, batch))
    val v = verdicts(verdict)
    StreamingIngest.releaseBatch(verdict)
    v
  }

  /** Check one batch's verdicts against the planted truth; returns the
    * number of planted near copies that were flagged.
    */
  private def check(ctx: Ctx, j: Int, cb: CorpusBatch, v: Map[Long, Verdict]): Int = {
    val exactGot = v.collect { case (id, x) if x.isDup => id }.toSet
    val exactOk = exactGot == cb.exact.keySet &&
      cb.exact.forall { case (id, src) => v(id).canonical == src }
    val novelOk = cb.novel.forall(id => !v(id).isDup && v(id).nHist.contains(0L))
    val nearFlagged = cb.near.count { case (id, src) =>
      v(id).nHist.exists(_ > 0) && v(id).histCanonical.contains(src) }
    val nearOk = cb.near.keys.forall(id => !v(id).isDup)
    ctx.op(v.size == cb.docs.size && exactOk && novelOk && nearOk,
      s"batch $j verdicts: ${v.size}/${cb.docs.size} rows, exact set ok=$exactOk, " +
        s"novel clean=$novelOk, near not exact=$nearOk")
    nearFlagged
  }

  def run(ctx: Ctx): Unit = {
    import ctx.{spark, tracer => tr}
    val sh = shape(ctx.opts.tiny)
    val gen = new CorpusGen(ctx.opts.seed, sh)
    val stores = ctx.opts.work.resolve("corpus-stores")
    val history = gen.history()
    val hdf = frame(spark, history)
    FingerprintStore.write(hdf, fp, stores.resolve("fp").toString)
    MinHashStore.write(hdf, mh, stores.resolve("mh").toString)
    ctx.phase("history_stores")
    var textBytes = history.iterator.map(_._2.getBytes("UTF-8").length.toLong).sum

    def next(): CorpusBatch = {
      val cb = gen.nextBatchDocs()
      textBytes += cb.textBytes
      if (!ctx.opts.perturb) cb
      else cb.copy(exact = cb.exact.drop(1), novel = cb.novel ++ cb.exact.keys.take(1))
    }
    (0 until warmupBatches).foreach { j =>
      val cb = next()
      ctx.attempt(s"warm-up batch $j")(viaProcessBatch(ctx, frame(spark, cb.docs)))
        .foreach(v => check(ctx, j, cb, v))
    }
    // the store size is read after a fixed batch count, so the ratio is
    // a pure function of the seed
    val ratioAt = if (ctx.opts.tiny) 1 else minBatches
    val lat = mutable.ArrayBuffer.empty[Double]
    val viaPb = mutable.ArrayBuffer.empty[Double]
    var docs = 0L; var planted = 0; var flagged = 0
    var ratio = -1.0
    ctx.startTimed()
    val t0 = System.nanoTime()
    var j = warmupBatches
    while (ctx.windowOpen(t0, lat.size, if (ctx.opts.tiny) 3 else minBatches)) {
      val cb = next()
      val df = frame(spark, cb.docs)
      // the traced run splits every other batch into its store calls
      val split = tr.enabled && j % 2 == 1
      val b0 = System.nanoTime()
      val res = ctx.attempt(s"batch $j")(tr.span("corpus.batch", root = true) {
        if (split) decomposed(ctx, df) else viaProcessBatch(ctx, df)
      })
      val ms = (System.nanoTime() - b0) / 1e6
      res.foreach { v =>
        lat += ms; if (!split) viaPb += ms
        docs += cb.docs.size; planted += cb.near.size
        flagged += check(ctx, j, cb, v)
      }
      j += 1
      if (lat.size == ratioAt) ratio = Stats.dirBytes(stores).toDouble / textBytes
    }
    val windowS = lat.sum / 1000.0
    if (ratio < 0) ratio = Stats.dirBytes(stores).toDouble / textBytes
    val recall = flagged.toDouble / math.max(1, planted)
    ctx.e2e("setup_s") = (ctx.setupS, "s")
    ctx.e2e("throughput_per_s") = (docs / windowS, "1/s")
    ctx.e2e("latency_p50_ms") = (Stats.pct(lat.toSeq, 50), "ms")
    ctx.e2e("latency_p75_ms") = (Stats.pct(lat.toSeq, 75), "ms")
    ctx.e2e("store_bytes_per_input_byte") = (ratio, "ratio")
    ctx.details("latency_ms_by_fifth") = Stats.drift(lat.toSeq)
    ctx.details("samples") = Map("latency" -> lat.size)
    ctx.details("near_dup_recall") = recall
    ctx.details("meaning") = Map("throughput_per_s" -> "documents deduped and folded in per second",
      "latency_ms" -> "processBatch + collecting its verdicts + releaseBatch, per batch")
    ctx.details("input") = sh.describe ++ Map("batches" -> (j - warmupBatches),
      "warmup_batches" -> warmupBatches, "store_ratio_after_batches" -> ratioAt,
      "planted_near_copies" -> planted)
    if (tr.enabled) {
      def med(n: String) = Stats.median(tr.all.filter(_.name == n).map(_.ms))
      Layers.cloudfront(ctx, 0, 0, 0, 0)
      Layers.streaming(ctx, 0, 0, 0, 0, med("streaming.process_batch"))
      Layers.timeseries(ctx, Map.empty)
      Layers.sources(ctx, med("sources.fp_probe"), med("sources.fp_append"),
        med("sources.mh_probe"), med("sources.mh_append"),
        Stats.dataFiles(stores).size, Stats.dirBytes(stores), recall)
      Layers.spark(ctx, sp => sp.name == "corpus.batch" && sp.startNs >= t0, windowS)
      Layers.traced(ctx, docs / windowS, Stats.median(viaPb.toSeq))
    }
  }
}
