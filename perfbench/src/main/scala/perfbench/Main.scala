package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{BufferPoolMXBean, ManagementFactory}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Everything a workload needs: the session, its options, the tracer and
  * (traced runs only) the Spark counters.
  */
final class Ctx(
    val spark: SparkSession,
    val opts: Map[String, String],
    val tracer: Tracer,
    val counters: Option[(SparkCounters, ScanFiles)]) {
  val canaries = ArrayBuffer.empty[Double]

  def seed: Long = opts("seed").toLong
  def seconds: Double = opts("seconds").toDouble
  def work: String = opts("work")
  def traced: Boolean = tracer.enabled
  def count(name: String): Long = opts(name).toLong

  val memSamplesMb = ArrayBuffer.empty[Double]

  /** Marks the end of set-up, then takes the run's first host canary and
    * memory sample.
    */
  def setupDone(out: Outcome): Unit = {
    out.setupEndMs = System.currentTimeMillis()
    out.mark("warmup")
    canaries += Main.canaryMs(spark)
    memSamplesMb += Main.liveMemMb()
    out.mark("canary")
  }

  /** Marks the end of the timed region and takes a memory sample. */
  def timedDone(out: Outcome): Unit = {
    out.mark("timed")
    memSamplesMb += Main.liveMemMb()
  }
}

/** What a workload hands back. `ops` are the timed operations' wall
  * times; an op fails when it throws or its output check fails.
  */
final class Outcome {
  val ops = ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  var setupEndMs = 0L
  private var lastMark = Main.nowMs

  /** Record the wall time since the previous mark under `phase`. */
  def mark(phase: String): Unit = {
    val now = Main.nowMs
    info("phase." + phase + "_ms") = now - lastMark
    lastMark = now
  }

  def check(name: String, ok: Boolean, detail: String = ""): Boolean = {
    checks += ((name, ok, detail))
    ok
  }
}

object Main {

  def nowMs: Double = System.nanoTime() / 1e6

  /** Closed loop, one client: run `op` back to back until `seconds` have
    * passed and at least `minOps` ran, stopping only after a whole
    * multiple of `unit` ops. Returns each op's wall ms and whether it
    * succeeded (a thrown op is recorded as failed).
    */
  def loop(seconds: Double, minOps: Int, unit: Int = 1)(op: Int => Boolean)
      : Seq[(Double, Boolean)] = {
    val out = ArrayBuffer.empty[(Double, Boolean)]
    val t0 = nowMs
    while (out.size < minOps || nowMs - t0 < seconds * 1000 || out.size % unit != 0) {
      val t = nowMs
      val ok = try op(out.size) catch {
        case e: Exception =>
          System.err.println(s"[perfbench] op ${out.size} failed: $e")
          false
      }
      out += ((nowMs - t, ok))
    }
    out.toSeq
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Host canary: a fixed CPU-bound job (1M xxhash64 per core over a
    * generated range, no I/O), the median of three runs after one
    * warm-up run. A contended host shows as a slow or drifting canary.
    */
  def canaryMs(spark: SparkSession): Double = {
    val rows = spark.sparkContext.defaultParallelism.toLong << 20
    def one(): Double = {
      val t = nowMs
      spark.range(rows).select(sum(xxhash64(col("id")))).head()
      nowMs - t
    }
    one()
    median(Seq.fill(3)(one()))
  }

  /** Memory the program holds, in MB: the heap still live after a full
    * collection, the non-heap pools (metaspace, class space, code cache)
    * and NIO direct and mapped buffers. The heap's own size is fixed by the
    * launcher, so it is left out.
    */
  def liveMemMb(): Double = {
    System.gc()
    val mem = ManagementFactory.getMemoryMXBean
    val buffers = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean])
      .asScala.map(_.getMemoryUsed).sum
    (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed + buffers) / 1048576.0
  }

  /** Parquet data files under `dir` and their total bytes. */
  def parquetFiles(dir: String): (Long, Long) = {
    val files = Files.walk(Paths.get(dir)).filter(p =>
      Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
    (files.length.toLong, files.map(Files.size).sum)
  }

  def write(path: String, lines: Iterator[String]): Unit = {
    val w = new PrintWriter(new File(path), "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = opts("cores")
    val tSession = nowMs
    val spark = GraftSession.builder("perfbench", cores)
      .config("spark.local.dir", s"${opts("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts("work")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = nowMs - tSession
    val tracer = new Tracer(opts("trace") == "1")
    val ctx = new Ctx(spark, opts, tracer,
      if (tracer.enabled) Some(Counters.install(spark)) else None)

    val out = opts("workload") match {
      case "taxi_etl_month"  => TaxiEtl.run(ctx)
      case "query_mix"       => QueryMix.run(ctx)
      case w                 => sys.error(s"unknown workload $w")
    }
    ctx.canaries += canaryMs(spark)
    out.layers("session.build_ms") = sessionMs
    out.info("phase.session_ms") = sessionMs
    if (tracer.enabled)
      write(opts("spans"), tracer.jsonLines)
    val record = Json.obj(
      "jvm_start_ms" -> jvmStartMs,
      "setup_end_ms" -> out.setupEndMs,
      "ops_ms" -> out.ops.toSeq,
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "checks" -> out.checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) }.toSeq,
      "layers" -> out.layers.toMap,
      "info" -> out.info.toMap,
      "canary_ms" -> ctx.canaries.toSeq,
      "live_mem_mb" -> ctx.memSamplesMb.max)
    write(opts("record"), Iterator(record))
    spark.stop()
  }
}
