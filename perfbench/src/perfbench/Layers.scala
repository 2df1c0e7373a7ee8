package perfbench

/** The per-layer metrics of a traced run. Every traced run reports the
  * full set; a layer a workload does not exercise reads 0.
  */
object Layers {
  val queries = Seq("headline_24h", "country_1h", "edge_series_7d",
    "cache_hit_day", "top_uris_24h")

  def cloudfront(ctx: Ctx, parseMs: Double, meltMs: Double,
      recordsPerLine: Double, malformed: Long): Unit = {
    ctx.layer("cloudfront.parse_ms") = (parseMs, "ms")
    ctx.layer("cloudfront.melt_ms") = (meltMs, "ms")
    ctx.layer("cloudfront.records_out_per_line") = (recordsPerLine, "ratio")
    ctx.layer("cloudfront.malformed_lines") = (malformed.toDouble, "count")
  }

  def streaming(ctx: Ctx, commitMs: Double, partitionsPerBatch: Double,
      filesPerBatch: Double, storeFiles: Int, processBatchMs: Double): Unit = {
    ctx.layer("streaming.commit_ms") = (commitMs, "ms")
    ctx.layer("streaming.partitions_per_batch") = (partitionsPerBatch, "count")
    ctx.layer("streaming.files_per_batch") = (filesPerBatch, "count")
    ctx.layer("streaming.store_files") = (storeFiles.toDouble, "count")
    ctx.layer("streaming.process_batch_ms") = (processBatchMs, "ms")
  }

  /** Per query name: (plan ms, exec ms, files read, rows read per row returned). */
  def timeseries(ctx: Ctx, perQuery: Map[String, (Double, Double, Double, Double)]): Unit =
    queries.foreach { q =>
      val (p, e, f, r) = perQuery.getOrElse(q, (0.0, 0.0, 0.0, 0.0))
      ctx.layer(s"timeseries.plan_ms.$q") = (p, "ms")
      ctx.layer(s"timeseries.exec_ms.$q") = (e, "ms")
      ctx.layer(s"timeseries.files_read.$q") = (f, "count")
      ctx.layer(s"timeseries.rows_read_per_row_returned.$q") = (r, "ratio")
    }

  def sources(ctx: Ctx, fpProbeMs: Double, fpAppendMs: Double,
      mhProbeMs: Double, mhAppendMs: Double, storeFiles: Int,
      storeBytes: Long, nearDupRecall: Double): Unit = {
    ctx.layer("sources.fp_probe_ms") = (fpProbeMs, "ms")
    ctx.layer("sources.fp_append_ms") = (fpAppendMs, "ms")
    ctx.layer("sources.mh_probe_ms") = (mhProbeMs, "ms")
    ctx.layer("sources.mh_append_ms") = (mhAppendMs, "ms")
    ctx.layer("sources.store_files") = (storeFiles.toDouble, "count")
    ctx.layer("sources.store_bytes") = (storeBytes.toDouble, "bytes")
    ctx.layer("sources.near_dup_recall") = (nearDupRecall, "ratio")
  }

  /** Engine counters summed over the spans of the timed operations;
    * busy share is task time over (window wall time x cores).
    */
  def spark(ctx: Ctx, timedOp: Span => Boolean, windowS: Double): Unit = {
    val t = ctx.tracer.sparkTotals(timedOp)
    Tracer.sparkCounters.zip(t).foreach { case (n, v) =>
      ctx.layer(s"spark.$n") = (v.toDouble, if (n.endsWith("_ms")) "ms" else if (n.endsWith("_bytes")) "bytes" else "count")
    }
    ctx.layer("spark.busy_share") = (t(0) / (windowS * 1000.0 * ctx.opts.cores), "ratio")
  }

  /** The traced run's own end-to-end figures: set against an untraced
    * run's, they give the tracing overhead.
    */
  def traced(ctx: Ctx, throughput: Double, p50Ms: Double): Unit = {
    ctx.layer("traced.throughput_per_s") = (throughput, "1/s")
    ctx.layer("traced.latency_p50_ms") = (p50Ms, "ms")
  }
}
