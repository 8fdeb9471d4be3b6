package perfbench

import org.apache.spark.sql.DataFrame

import graft.sources.Tables

/** taxi_etl_month: the batch job. One op is the whole month through
  * `Tables` read → `Cleaning` → `Features` (+ date parts) →
  * `Tables.writePartitioned`, overwriting the same sink.
  *
  * A traced op materialises each layer's frame in turn (noop sink), so a
  * layer's time is its frame's time minus its input's: that split costs
  * the recomputation, which shows as the tracing overhead.
  */
object TaxiEtl {

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val out = new Outcome
    val copies = ctx.count("copies")
    val rawDir = s"${ctx.work}/raw"
    val sink = s"${ctx.work}/sink/taxi.parquet"
    TaxiMonth.raw(spark, copies, ctx.seed).write.mode("overwrite")
      .parquet(s"$rawDir/taxi.parquet")
    out.mark("generate")

    def month(): DataFrame = Tables.load(spark, rawDir, "taxi")
    def sinkMonth(featured: DataFrame): Unit =
      Tables.writePartitioned(featured, sink, TaxiMonth.PartitionCols, TaxiMonth.SortCols)

    def plainOp(): Unit = sinkMonth(TaxiMonth.featured(month()))

    // two untimed warm-up ops (op times keep falling for a few ops while
    // the JIT compiles), then the timed loop
    plainOp()
    plainOp()
    ctx.setupDone(out)

    val layerMs = scala.collection.mutable.Map.empty[String, Seq[Double]].withDefaultValue(Nil)
    def tracedOp(): Unit = {
      val t = ctx.tracer
      val (counters, scans) = ctx.counters.get
      val sc = spark.sparkContext
      def diff(a: Map[String, Long], b: Map[String, Long], prefix: String): Unit =
        b.foreach { case (k, v) => layerMs(prefix + k) :+= (v - a(k)).toDouble }
      t.nextRun()
      t.span("etl.month") {
        counters.drain(sc)
        scans.take()
        val raw = t.span("sources.scan") { val r = month(); noop(r); r }
        counters.drain(sc)
        layerMs("scan_bytes") :+= scans.take().map(_._2).sum.toDouble
        val cleaned = t.span("taxi.clean") { val c = TaxiMonth.clean(raw); noop(c); c }
        val featured = t.span("taxi.features") { val f = TaxiMonth.features(cleaned); noop(f); f }
        val c2 = counters.snapshot(sc)
        t.span("sources.sink") { sinkMonth(featured) }
        diff(c2, counters.snapshot(sc), "sink.")
        val Seq(scan, clean, feat, sinkMs) = t.spans.takeRight(4).map(_.ms).toSeq
        layerMs("scan") :+= scan
        layerMs("clean") :+= clean - scan
        layerMs("features") :+= feat - clean
        layerMs("sink") :+= sinkMs
      }
    }

    // a traced run spends the first half untraced, for the overhead figure
    val plain = Main.loop(if (ctx.traced) ctx.seconds / 2 else ctx.seconds,
        if (ctx.traced) 1 else 4) { _ => plainOp(); true }
    val traced =
      if (!ctx.traced) Nil
      else {
        val before = ctx.counters.get._1.snapshot(spark.sparkContext)
        val r = Main.loop(ctx.seconds / 2, 1) { _ => tracedOp(); true }
        Layers.spark(out, before, ctx.counters.get._1.snapshot(spark.sparkContext))
        r
      }

    ctx.timedDone(out)
    // output checks, outside the timed region
    val raw = month()
    val (bad, counts) = TaxiMonth.checkProportional(spark, raw, copies)
    val featuredRows = counts.last._2
    val sunk = Tables.load(spark, s"${ctx.work}/sink", "taxi")
    val sinkRows = sunk.count()
    val (unlike, facts) = TaxiMonth.checkFacts(raw, sunk)
    val ok = out.check("stage_counts_proportional", bad.isEmpty, bad.mkString("; ")) &
      out.check("sink_rows_equal_featured", sinkRows == featuredRows,
        s"sink $sinkRows featured $featuredRows") &
      out.check("month_fits_recorded_facts", unlike.isEmpty, unlike.mkString("; "))
    out.mark("checks")
    val all = plain ++ traced
    out.attempted = all.size
    out.failed = if (ok) all.count(!_._2) else all.size
    out.ops ++= plain.map(_._1)
    val (files, bytes) = Main.parquetFiles(sink)
    val rawRows = counts.head._2
    out.info ++= Seq("raw_rows" -> rawRows, "featured_rows" -> featuredRows,
      "sink_files" -> files, "sink_bytes" -> bytes,
      "stage_counts" -> counts.toMap, "month_facts" -> facts,
      "etl_rows_per_s" -> rawRows / (Main.median(out.ops.toSeq) / 1000),
      "sink_bytes_per_row" -> bytes.toDouble / featuredRows)

    if (ctx.traced) {
      def med(k: String) = Main.median(layerMs(k))
      out.layers ++= Seq(
        "sources.scan_ms" -> med("scan"),
        "sources.scan_bytes" -> med("scan_bytes"),
        "taxi.clean_ms" -> med("clean"),
        "taxi.clean_keep_ratio" -> counts(2)._2.toDouble / rawRows,
        "taxi.features_ms" -> med("features"),
        "sources.sink_ms" -> med("sink"),
        "sources.sink_jobs" -> med("sink.jobs"),
        "sources.sink_shuffle_write_bytes" -> med("sink.shuffle_write_bytes"),
        "sources.sink_spill_bytes" -> med("sink.spill_bytes"),
        "sources.sink_files" -> files.toDouble,
        "sources.sink_bytes_per_row" -> bytes.toDouble / featuredRows)
      Layers.overhead(out, plain.map(_._1), traced.map(_._1))
    }
    out
  }
}
