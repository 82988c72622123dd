package graftbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** State shared by a workload's set-up, operations and checks. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long, val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  var correct = true
  /** Per-layer figures a workload measures itself (file counts, bytes,
    * recall, ...), keyed by per-layer metric name. */
  val layer = mutable.Map.empty[String, Double]
  /** Per-layer samples (one per operation), reduced in [[Layers]]. */
  val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  def sample(key: String, v: Double): Unit =
    samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { correct = false; System.err.println(s"[graftbench] MISMATCH: $what") }

  /** A timed closed-loop operation; a thrown exception counts as failed. */
  def op[T](name: String, kind: String)(f: => T): Option[(T, Span)] = {
    attempted += 1
    try Some(tracer.op(name, kind)(f))
    catch {
      case scala.util.control.NonFatal(e) =>
        failed += 1
        tracer.dropLast()
        System.err.println(s"[graftbench] FAILED $name: $e")
        e.printStackTrace()
        None
    }
  }
}

/** A closed-loop workload: a single client thread issues each operation
  * after the previous one returns. */
trait Workload {
  /** Generates the inputs from the seed and creates the tables under
    * `dir`. */
  def prepare(ctx: Ctx, dir: Path): Unit
  /** One untimed pass over every operation kind, so caches and lazy
    * set-up settle before timing starts. */
  def warmup(ctx: Ctx): Unit
  /** One whole round of the operation mix, each result checked. */
  def round(ctx: Ctx, n: Int): Unit
  /** The operation kinds behind `read_ms` and `write_ms`. */
  def readKinds: Set[String]
  def writeKinds: Set[String]
  /** Per-layer figures read at the end of a traced run, before the
    * session stops. */
  def finish(ctx: Ctx): Unit
}

object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val wl: Workload = name match {
      case "geo" => new Geo
      case "retrieval" => new RetrievalLoad
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val t0 = System.nanoTime()
    // one core of a 4-core host stays with the driver thread, the JIT
    // and the GC: local[4] oversubscribes it and reads slower and noisier
    val cores = math.max(1, math.min(3, Runtime.getRuntime.availableProcessors() - 1))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$name")
      .withExtensions(new graft.extension.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.catalog.geo", classOf[graft.tables.GeoCatalog].getName)
      .config("spark.sql.catalog.geo.warehouse", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionNs = System.nanoTime() - t0

    val tracer = new Tracer(trace, spark)
    val ctx = new Ctx(spark, work, seed, tracer)
    val p0 = System.nanoTime()
    wl.prepare(ctx, work.resolve("tables"))
    val prepNs = System.nanoTime() - p0
    tracer.phase = "warmup"
    wl.warmup(ctx)
    val warmNs = System.nanoTime() - p0 - prepNs
    tracer.phase = "run"
    // set-up as a client pays it: from session creation to the first
    // timed operation
    val setupS = (System.nanoTime() - t0) / 1e9

    val m0 = System.nanoTime()
    var rounds = 0
    while ((System.nanoTime() - m0) / 1e9 < seconds && ctx.failed == 0) {
      wl.round(ctx, rounds)
      rounds += 1
    }
    val measuredS = (System.nanoTime() - m0) / 1e9

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        Seq(("setup_s", setupS, "s"),
          ("read_ms", Stats.typical(wl.readKinds.toSeq.flatMap(k => tracer.ops(k))), "ms"),
          ("write_ms", Stats.typical(wl.writeKinds.toSeq.flatMap(k => tracer.ops(k))), "ms"))
      } else {
        wl.finish(ctx)
        spark.stop() // drains the listener bus: every task metric has arrived
        val layers = Layers.compute(tracer, ctx)
        tracer.write(work.getParent.resolve(s"trace-$name-$seed.jsonl"))
        layers
      }
    System.err.println(f"[graftbench] $name seed=$seed rounds=$rounds measured=$measuredS%.1fs " +
      f"ops=${ctx.attempted} session=${sessionNs / 1e9}%.2fs " +
      f"prepare=${prepNs / 1e9}%.2fs warmup=${warmNs / 1e9}%.2fs")
    if (!trace) {
      Stats.kinds(tracer).foreach { case (k, n, med, p90) =>
        System.err.println(f"[graftbench]   $k%-10s n=$n%4d p50=$med%9.1fms p90=$p90%9.1fms")
      }
      spark.stop()
    }
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${ctx.correct && rounds > 0}, "attempted": ${ctx.attempted}, """ +
      s""""failed": ${ctx.failed}, "metrics": {$body}}""")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Typical latency of a class of operations: the geometric mean, over
    * the operation names in the class, of each name's median. Every name
    * weighs the same however often it runs, and a run of one round still
    * averages over every name. */
  def typical(ops: Seq[Span]): Double = {
    val meds = ops.groupBy(_.name).values.map(ss => median(ss.map(_.ms))).toSeq
    if (meds.isEmpty) 0.0 else math.exp(meds.map(math.log).sum / meds.length)
  }

  /** (kind, samples, p50, p90) of every top-level operation kind. */
  def kinds(t: Tracer): Seq[(String, Int, Double, Double)] =
    t.spans.filter(s => s.parent < 0 && s.phase == "run").groupBy(s => s"${s.kind}/${s.name}").toSeq.sortBy(_._1).map {
      case (k, ss) => val ms = ss.map(_.ms).toSeq
        (k, ms.length, median(ms), quantile(ms, 0.9))
    }
}

object Disk {
  /** (files, bytes) of regular files under `root` whose path (relative to
    * root) satisfies `keep`. */
  def usage(root: Path, keep: String => Boolean = _ => true): (Long, Long) = {
    if (!Files.exists(root)) return (0L, 0L)
    val st = Files.walk(root)
    try {
      var n = 0L; var b = 0L
      st.filter(p => Files.isRegularFile(p)).forEach { p =>
        if (keep(root.relativize(p).toString)) { n += 1; b += Files.size(p) }
      }
      (n, b)
    } finally st.close()
  }
  /** Data files are parquet under `data/`; everything else (manifests,
    * delete sidecars, checksums) is table metadata. */
  def isData(rel: String): Boolean = rel.startsWith("data/") && !rel.endsWith(".crc")
}
