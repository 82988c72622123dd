package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One timed call into graft. `opId` groups a top-level operation with
  * the child spans it caused; `parent` is -1 for a top-level operation.
  * `counters` hold the layer counts attributed to the span. */
final case class Span(id: Int, parent: Int, opId: Int, name: String, kind: String,
                      phase: String, var startNs: Long = 0L, var endNs: Long = 0L,
                      startMs: Long = 0L, var endMs: Long = 0L,
                      counters: mutable.Map[String, Double] = mutable.Map.empty,
                      var note: String = "") {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark job/stage/task metrics keyed by the benchmark operation that
  * submitted them (the `graftbench.op` local property). Events arrive on
  * the listener bus thread; they are read only after the bus drains at
  * `SparkContext.stop`. */
final class OpListener extends SparkListener {
  final class Agg {
    var jobs = 0; var stages = 0
    var cpuNs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
    var inputBytes = 0L; var inputRecords = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  val byOp = mutable.Map.empty[Int, Agg]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val jobOp = mutable.Map.empty[Int, (Int, Long)]

  private def opOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(OpListener.Prop))).map(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    opOf(e.properties).foreach { op =>
      byOp.getOrElseUpdate(op, new Agg).jobs += 1
      jobOp(e.jobId) = (op, e.time)
      e.stageIds.foreach(s => stageOp(s) = op)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { case (op, t0) =>
      byOp(op).jobIntervals += ((t0, e.time))
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    opOf(e.properties).orElse(stageOp.get(e.stageInfo.stageId)).foreach { op =>
      stageOp(e.stageInfo.stageId) = op
      byOp.getOrElseUpdate(op, new Agg).stages += 1
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (op <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = byOp.getOrElseUpdate(op, new Agg)
      a.cpuNs += m.executorCpuTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRecords += m.inputMetrics.recordsRead
    }
  }
}

object OpListener { val Prop = "graftbench.op" }

/** Spans around every call the benchmark makes into graft. With tracing
  * off only top-level operations are timed (the end-to-end samples) and
  * no counter is read; with tracing on, child spans, Hadoop FileSystem
  * statistics and sidecar-cache misses are recorded too and kept in
  * memory until [[write]]. */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var nextOp = 0
  /** "setup", "warmup" or "run": only "run" spans feed the end-to-end
    * metrics. */
  var phase = "setup"
  val listener: Option[OpListener] =
    if (enabled) { val l = new OpListener; spark.sparkContext.addSparkListener(l); Some(l) }
    else None

  /** (read calls, write calls, bytes written, bytes read). Hadoop's local
    * file system keeps no operation counts, so the calls are the JVM's
    * read and write system calls from /proc/self/io (zero where that file
    * is missing); the bytes are Hadoop's FileSystem statistics. */
  private def fsStats(): (Long, Long, Long, Long) = {
    import scala.jdk.CollectionConverters._
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    val io = scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/self/io")
      try src.getLines().map(_.split(":\\s*")).collect { case Array(k, v) => k -> v.trim.toLong }.toMap
      finally src.close()
    }.getOrElse(Map.empty[String, Long])
    (io.getOrElse("syscr", 0L), io.getOrElse("syscw", 0L),
      all.map(_.getBytesWritten).sum, all.map(_.getBytesRead).sum)
  }

  /** A top-level closed-loop operation of kind `kind`. Returns the call's
    * result and its span. */
  def op[T](name: String, kind: String)(f: => T): (T, Span) = {
    require(stack.isEmpty, s"operation $name started inside ${stack.top.name}")
    nextOp += 1
    spark.sparkContext.setLocalProperty(OpListener.Prop, nextOp.toString)
    try timed(name, kind, nextOp, -1)(f)
    finally spark.sparkContext.setLocalProperty(OpListener.Prop, null)
  }

  /** A child span inside the current operation; only recorded when
    * tracing is on. */
  def span[T](name: String)(f: => T): T =
    if (!enabled || stack.isEmpty) f
    else timed(name, stack.top.kind, stack.top.opId, stack.top.id)(f)._1

  private def timed[T](name: String, kind: String, opId: Int, parent: Int)(f: => T): (T, Span) = {
    val s = Span(spans.length, parent, opId, name, kind, phase, startMs = System.currentTimeMillis())
    val fs0 = if (enabled) fsStats() else null
    val miss0 = graft.tables.GeoSidecarCache.misses.get()
    if (enabled || parent < 0) spans += s
    stack.push(s)
    s.startNs = System.nanoTime()
    val r = try f finally {
      s.endNs = System.nanoTime()
      stack.pop()
    }
    s.endMs = System.currentTimeMillis()
    if (enabled) {
      val fs1 = fsStats()
      s.counters("fs.read_ops") = (fs1._1 - fs0._1).toDouble
      s.counters("fs.write_ops") = (fs1._2 - fs0._2).toDouble
      s.counters("fs.bytes_written") = (fs1._3 - fs0._3).toDouble
      s.counters("fs.bytes_read") = (fs1._4 - fs0._4).toDouble
      s.counters("sidecar_cache_misses") =
        (graft.tables.GeoSidecarCache.misses.get() - miss0).toDouble
    }
    (r, s)
  }

  /** Forgets the last operation and its child spans (a failed call
    * yields no latency sample). */
  def dropLast(): Unit = {
    val op = spans.lastIndexWhere(_.parent < 0)
    if (op >= 0) spans.remove(op, spans.length - op)
  }

  /** Top-level operation spans of `kind` in `phase` (names match when
    * given). */
  def ops(kind: String, name: String = null, phase: String = "run"): Seq[Span] =
    spans.filter(s => s.parent < 0 && s.kind == kind && s.phase == phase &&
      (name == null || s.name == name)).toSeq

  /** Self time of each span: its duration minus the part of its interval
    * covered by its children. */
  def selfNs(): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).toSeq)
      s.id -> ((s.endNs - s.startNs) - covered)
    }.toMap
  }

  /** Writes every span as one JSON line. */
  def write(path: java.nio.file.Path): Unit = {
    val self = selfNs()
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map { s =>
      val cs = s.counters.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""${Json.esc(k)}":${Json.num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.opId},"name":"${Json.esc(s.name)}",""" +
        s""""kind":"${s.kind}","phase":"${s.phase}","note":"${Json.esc(s.note)}","start_us":${(s.startNs - t0) / 1000},""" +
        s""""end_us":${(s.endNs - t0) / 1000},"self_us":${self(s.id) / 1000},"counters":{$cs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** Total length of the union of half-open intervals. */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Milliseconds inside the span during which no Spark job of its
    * operation was running. */
  def joblessMs(s: Span): Double = listener.map { l =>
    val jobs = l.synchronized(l.byOp.get(s.opId).map(_.jobIntervals.toSeq).getOrElse(Nil))
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }
    math.max(0.0, (s.endMs - s.startMs) - union(jobs).toDouble)
  }.getOrElse(0.0)
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
