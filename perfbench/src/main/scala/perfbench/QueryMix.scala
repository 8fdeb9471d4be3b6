package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.OperatorCaches
import graft.sources.Tables
import graft.streaming.StreamScale
import graft.taxi.Analytics

/** query_mix: one analyst, closed loop, over two kinds of table.
  *
  *  - The taxi month, written by set-up with `Tables.writePartitioned`:
  *    each request re-opens it through `Tables`, runs one of ten query
  *    kinds over the whole table or a 7-day `pickup_day` window, and
  *    collects the result.
  *  - Generated TPC-H-style tables: each request evaluates one
  *    `QueryCatalog` entry (through `SparkEntry`) into the noop sink, then
  *    releases the operator caches and state stores.
  *
  * Requests come in seeded blocks holding every taxi kind twice (whole
  * table and window) and every catalog entry once, shuffled, and a run
  * measures whole blocks, so every seed sees the same mix. Set-up makes one
  * untimed pass over every taxi kind (on a 7-day window) and every entry;
  * the catalog outputs of that pass and every distinct taxi result of the
  * timed loop are checked by run.py. The month is taxi_etl_month's at the
  * same seed, whose run checks it against the recorded facts.
  */
object QueryMix {

  /** Each taxi kind's result as (columns, rows rendered as JSON objects). */
  val taxiKinds: Seq[(String, DataFrame => (Seq[String], Seq[String]))] = {
    def rows(f: DataFrame => DataFrame): DataFrame => (Seq[String], Seq[String]) =
      t => { val df = f(t); (df.columns.toSeq, df.collect().map(_.json).toSeq) }
    Seq(
      "q1" -> rows(Analytics.q1TipPctByAirportPickup),
      "q2" -> rows(Analytics.q2AvgDurationByRoute),
      "q3" -> rows(Analytics.q3CountByPaymentType),
      "q4" -> rows(Analytics.q4PaymentRankByRateCode),
      "q5" -> rows(Analytics.q5Congestion),
      "q6" -> rows(Analytics.q6FareBySlotAndDow),
      "q7" -> rows(Analytics.q7TopRoutes(_)),
      "q8" -> rows(Analytics.q8AirportVsNonAirport),
      "corr" -> rows(Analytics.corrDurationTipByPayment),
      "airport_share" -> (t => (Seq("airport_pickup_share_pct"),
        Seq(Json.obj("airport_pickup_share_pct" -> Analytics.airportPickupShare(t))))))
  }

  /** The catalog entries: a shuffle join and aggregate over the TPC-H
    * tables (`queries`, `sources`), Dedup with graftnative MinHash
    * (`operators`, `graftnative`) and a windowed stream (`streaming`).
    */
  val entries: Seq[String] = Seq(
    "q_join_shuffle_revenue", "q_dedup_minhash", "q_stream_window_agg")

  /** A taxi request (`kind` >= 0; day 0 means the whole table) or a
    * catalog request (`entry` set).
    */
  final case class Request(kind: Int, lo: Int, hi: Int, entry: String = "") {
    def name: String = if (entry.nonEmpty) entry else taxiKinds(kind)._1
  }

  val blockSize: Int = 2 * taxiKinds.size + entries.size

  /** Seeded blocks: every taxi kind over the whole table and over a
    * window starting on a seeded day, and every catalog entry, shuffled.
    */
  def requests(seed: Long): Iterator[Request] = {
    val rng = new scala.util.Random(seed)
    Iterator.continually {
      val taxi = taxiKinds.indices.flatMap { k =>
        val lo = 1 + rng.nextInt(22)
        Seq(Request(k, 0, 0), Request(k, lo, lo + 6))
      }
      rng.shuffle(taxi ++ entries.map(e => Request(-1, 0, 0, e)))
    }.flatten
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val out = new Outcome
    val rawDir = s"${ctx.work}/raw"
    val sinkDir = s"${ctx.work}/sink"
    val sink = s"$sinkDir/taxi.parquet"
    val catalogDir = ctx.opts("catalog")
    TaxiMonth.raw(spark, ctx.count("copies"), ctx.seed).write.mode("overwrite")
      .parquet(s"$rawDir/taxi.parquet")
    out.mark("generate")

    val featured = TaxiMonth.featured(Tables.load(spark, rawDir, "taxi"))
    val c0 = ctx.counters.map(_._1.snapshot(sc))
    val t0 = Main.nowMs
    ctx.tracer.span("sources.sink") {
      Tables.writePartitioned(featured, sink, TaxiMonth.PartitionCols, TaxiMonth.SortCols)
    }
    val sinkMs = Main.nowMs - t0
    val c1 = ctx.counters.map(_._1.snapshot(sc))
    val (files, bytes) = Main.parquetFiles(sink)
    val tableRows = spark.read.parquet(sink).count()
    out.mark("sink")

    val queries = SparkEntry.queries
    def release(): Unit = {
      OperatorCaches.release(spark)
      StreamScale.unloadStateStores()
    }
    def taxi(r: Request): (Seq[String], Seq[String]) = {
      val table = Tables.load(spark, sinkDir, "taxi")
      val t = if (r.lo == 0) table else table.filter(col("pickup_day").between(r.lo, r.hi))
      taxiKinds(r.kind)._2(t)
    }
    def catalog(name: String, sinkTo: DataFrame => Unit): Unit =
      try sinkTo(queries(name)(spark, catalogDir)) finally release()

    // warm-up: every taxi kind over a 7-day window, every entry once with
    // its output kept for the oracle check
    taxiKinds.indices.foreach(k => taxi(Request(k, 1, 7)))
    entries.foreach { e =>
      catalog(e, _.write.mode("overwrite").parquet(s"${ctx.work}/out/$e"))
    }
    ctx.counters.foreach(_._2.take())
    ctx.setupDone(out)

    // distinct taxi results; a repeat whose rows differ adds a variant
    val variants = mutable.LinkedHashMap.empty[(Request, Seq[String]), Int]
    val results = mutable.ArrayBuffer.empty[String]
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val perName = mutable.Map.empty[String, Seq[Double]].withDefaultValue(Nil)
    val fileFracs = mutable.ArrayBuffer.empty[Double]
    val reqs = requests(ctx.seed)

    def execute(r: Request): Int =
      if (r.entry.nonEmpty) {
        catalog(r.entry, _.write.mode("overwrite").format("noop").save())
        -1
      } else {
        val (cols, rows) = taxi(r)
        variants.getOrElseUpdate((r, rows.sorted), {
          results += Json.obj("id" -> variants.size, "kind" -> r.name, "lo" -> r.lo,
            "hi" -> r.hi, "columns" -> cols, "rows" -> Json.Raw(rows.mkString("[", ",", "]")))
          variants.size
        })
      }

    def runPhase(seconds: Double, traced: Boolean): Seq[(Double, Boolean)] =
      Main.loop(seconds, blockSize, unit = blockSize) { _ =>
        val r = reqs.next()
        val prefix = if (r.entry.nonEmpty) "catalog." else "taxi.query."
        val t = Main.nowMs
        val variant =
          try if (traced) ctx.tracer.span(prefix + r.name)(execute(r)) else execute(r)
          catch {
            case e: Exception =>
              ops += Map("name" -> r.name, "lo" -> r.lo, "hi" -> r.hi, "variant" -> -1,
                "ok" -> false)
              throw e
          } finally if (traced) {
            perName(prefix + r.name) :+= Main.nowMs - t
            ctx.counters.foreach { case (c, scans) =>
              c.drain(sc)
              val read = scans.take()
              if (r.entry.isEmpty) fileFracs ++= read.map(_._1.toDouble / files)
            }
          }
        ops += Map("name" -> r.name, "lo" -> r.lo, "hi" -> r.hi, "variant" -> variant,
          "ok" -> true)
        true
      }

    // a traced run spends the first half untraced, for the overhead figure
    val plain = runPhase(if (ctx.traced) ctx.seconds / 2 else ctx.seconds, traced = false)
    val traced =
      if (!ctx.traced) Nil
      else {
        val before = ctx.counters.get._1.snapshot(sc)
        val r = runPhase(ctx.seconds / 2, traced = true)
        Layers.spark(out, before, ctx.counters.get._1.snapshot(sc))
        r
      }
    ctx.timedDone(out)

    out.ops ++= plain.map(_._1)
    out.attempted = plain.size + traced.size
    out.failed = (plain ++ traced).count(!_._2)
    Main.write(ctx.opts("results"), results.iterator)
    out.info ++= Seq("requests" -> ops.toSeq, "table_rows" -> tableRows,
      "sink_files" -> files, "sink_bytes" -> bytes, "sink_ms" -> sinkMs,
      "oracle" -> entries.map(n => n -> SparkEntry.oracleSql(n)).toMap)
    if (ctx.traced) {
      taxiKinds.foreach { case (k, _) =>
        out.layers(s"taxi.query.${k}_ms") = Main.median(perName(s"taxi.query.$k"))
      }
      entries.foreach(e => out.layers(s"catalog.${e}_ms") = Main.median(perName(s"catalog.$e")))
      out.layers("sources.files_read_frac") =
        if (fileFracs.isEmpty) 0.0 else fileFracs.sum / fileFracs.size
      out.layers("sources.sink_ms") = sinkMs
      val (a, b) = (c0.get, c1.get)
      Seq("jobs", "shuffle_write_bytes", "spill_bytes").foreach { k =>
        out.layers(s"sources.sink_$k") = (b(k) - a(k)).toDouble
      }
      out.layers("sources.sink_files") = files.toDouble
      out.layers("sources.sink_bytes_per_row") = bytes.toDouble / tableRows
      Layers.overhead(out, plain.map(_._1), traced.map(_._1))
    }
    out
  }
}
