package graftbench

import graft.tables.{GeoManifest, GeoSql, GeoTable}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row}

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** The table half of [[Geo]]: commits on one keyed geo table, each
  * followed by a snapshot read
  * checked against [[Reference.KeyedModel]]: small appends, streaming-
  * sink micro-batches, `deleteByKey`/`upsertByKey`, SQL UPDATE/DELETE/
  * MERGE through the catalog (DSv2) and UPDATE through the path-table
  * front end (`GeoSql`), with compaction and expiry closing each round.
  * Deletes and upserts favour recent keys. */
final class GeoChurn {
  val InitialRows = 12000
  val Batch = 300
  val RetainVersions = 12

  private var model: Reference.KeyedModel = _
  private var nextId = 0L
  private var batchId = 0L
  private var root: String = _
  private var table: String = _
  private var pathName: String = _
  private var rnd: scala.util.Random = _
  /** Model checksum at each committed version (time-travel checks). */
  private val atVersion = mutable.LinkedHashMap.empty[Int, (Long, Long, Long, Long)]

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("ver", IntegerType), StructField("x", DoubleType), StructField("y", DoubleType)))

  /** Rows of (id, ver) with a point geometry derived from the id. */
  private def frame(ctx: Ctx, kv: Seq[(Long, Int)]): DataFrame =
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(kv.map { case (id, v) =>
        Row(id, v, (id % 1000) / 10.0, (id / 1000 % 1000) / 10.0)
      }), schema)
      .select(col("id"), col("ver"), expr("st_point(x, y)").as("g"))

  def prepare(ctx: Ctx, dir: Path): Unit = {
    val spark = ctx.spark
    val set = dir.getFileName.toString
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS geo.$set")
    table = s"geo.$set.churn"
    root = ctx.work.resolve("warehouse").resolve(set).resolve("churn").toString
    pathName = s"churn_$set"
    model = new Reference.KeyedModel
    nextId = 0L; batchId = 0L
    rnd = new scala.util.Random(ctx.seed)
    val init = (0 until InitialRows).map(_ => { nextId += 1; (nextId, 0) })
    withShuffle(ctx, 8)(GeoTable.create(spark, root, frame(ctx, init), geomCol = Some("g")))
    GeoTable.register(spark, pathName, root)
    model.append(init.map(_._1), 0)
    atVersion.clear()
    atVersion(GeoManifest.read(spark, root).version) = model.checksum
  }

  private def withShuffle[T](ctx: Ctx, n: Int)(f: => T): T = {
    val k = "spark.sql.shuffle.partitions"
    val old = ctx.spark.conf.get(k)
    ctx.spark.conf.set(k, n.toString)
    try f finally ctx.spark.conf.set(k, old)
  }

  private def fresh(n: Int): Seq[Long] = (0 until n).map { _ => nextId += 1; nextId }

  /** `n` distinct live ids, skewed towards the most recent ones. */
  private def recent(n: Int): Seq[Long] = {
    val live = model.rows.keysIterator.toArray // ascending
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < math.min(n, live.length)) {
      val u = rnd.nextDouble()
      picked += live(live.length - 1 - (u * u * u * live.length).toInt)
    }
    picked.toSeq
  }

  /** An id window near the newest keys. */
  private def recentWindow(width: Int): (Long, Long) = {
    val hi = nextId - (rnd.nextDouble() * rnd.nextDouble() * InitialRows).toLong
    (hi - width + 1, hi)
  }

  /** One commit: run it, then read the snapshot back and check it. */
  private def commit(ctx: Ctx, name: String, rowsIn: Int = 0)(f: => Unit)(applyModel: => Unit): Unit = {
    val t = ctx.tracer
    val before = if (t.enabled) Some(GeoManifest.read(ctx.spark, root)) else None
    val meta0 = if (t.enabled) Disk.usage(Paths.get(root), r => !Disk.isData(r))._2 else 0L
    val done = ctx.op(name, "commit")(f)
    if (done.isEmpty) return
    applyModel
    val (_, span) = done.get
    span.counters("rows_in") = rowsIn
    if (t.enabled) {
      val after = GeoManifest.read(ctx.spark, root)
      val old = before.get.files.map(_.key).toSet
      span.counters("files_added") = after.files.count(f => !old.contains(f.key))
      span.counters("metadata_bytes") =
        (Disk.usage(Paths.get(root), r => !Disk.isData(r))._2 - meta0).toDouble
    }
    snapshotRead(ctx)
  }

  private def checksumOf(df: DataFrame): (Long, Long, Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("id")), lit(0L)),
      coalesce(sum(col("ver").cast("long")), lit(0L)),
      coalesce(sum(col("id") * col("ver")), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  private var reads = 0
  private def snapshotRead(ctx: Ctx): Unit = {
    val t = ctx.tracer
    reads += 1
    val viaSql = reads % 2 == 0
    val got = ctx.op(if (viaSql) "sql_snapshot" else "table_snapshot", "read") {
      if (viaSql) checksumOf(ctx.spark.table(table))
      else checksumOf(t.span("GeoTable.read")(GeoTable.read(ctx.spark, root)))
    }
    got.foreach { case (cs, _) =>
      val want = model.checksum
      ctx.check(cs == want, s"snapshot after commit: graft $cs vs model $want")
      val v = GeoManifest.read(ctx.spark, root).version
      atVersion(v) = want
      if (t.enabled) {
        val m0 = System.nanoTime()
        GeoManifest.read(ctx.spark, root)
        ctx.sample("tables.manifest_read_ms", (System.nanoTime() - m0) / 1e6)
      }
    }
  }

  def warmup(ctx: Ctx): Unit = round(ctx, 0)

  def round(ctx: Ctx, n: Int): Unit = {
    val spark = ctx.spark
    // The catalog UPDATE runs first, on the compacted table the previous
    // round left: with equality deletes live (after deleteByKey or
    // upsertByKey) graft's CoW UPDATE refuses to commit (its scan/replace
    // row check does not subtract equality-deleted rows).
    val (ulo, uhi) = recentWindow(Batch)
    commit(ctx, "sql_update") {
      spark.sql(s"UPDATE $table SET ver = ver + 1 WHERE id BETWEEN $ulo AND $uhi")
    }(model.bumpRange(ulo, uhi, 1))

    val appended = fresh(Batch)
    commit(ctx, "append", Batch) {
      GeoTable.append(spark, root, frame(ctx, appended.map(_ -> 0)))
    }(model.append(appended, 0))

    val streamed = fresh(Batch)
    batchId += 1
    commit(ctx, "stream_batch", Batch) {
      GeoTable.append(spark, root, frame(ctx, streamed.map(_ -> 1)),
        streamCommit = Some("graftbench-sink" -> batchId))
    }(model.append(streamed, 1))

    val dels = recent(Batch)
    commit(ctx, "delete_by_key") {
      val sp = spark; import sp.implicits._
      GeoTable.deleteByKey(spark, root, Seq("id"), dels.toDF("id"))
    }(model.deleteKeys(dels))

    val ups = recent(Batch * 3 / 4).map(id => id -> (model.rows(id) + 3)) ++ fresh(Batch / 4).map(_ -> 3)
    commit(ctx, "upsert_by_key", ups.length) {
      GeoTable.upsertByKey(spark, root, Seq("id"), frame(ctx, ups))
    }(model.upsert(ups))

    val (dlo, dhi) = recentWindow(Batch)
    commit(ctx, "sql_delete") {
      spark.sql(s"DELETE FROM $table WHERE id BETWEEN $dlo AND $dhi")
    }(model.deleteRange(dlo, dhi))

    val (plo, phi) = recentWindow(Batch)
    commit(ctx, "path_sql_update") {
      GeoSql.exec(spark, s"UPDATE $pathName SET ver = ver + 2 WHERE id BETWEEN $plo AND $phi")
    }(model.bumpRange(plo, phi, 2))

    val src = recent(Batch * 3 / 4).map(id => id -> (model.rows(id) + 5)) ++ fresh(Batch / 4).map(_ -> 5)
    val view = "graftbench_merge_src"
    frame(ctx, src).createOrReplaceTempView(view)
    commit(ctx, "merge", src.length) {
      spark.sql(
        s"""MERGE INTO $table t USING $view s ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET ver = s.ver
           |WHEN NOT MATCHED THEN INSERT (id, ver, g) VALUES (s.id, s.ver, s.g)""".stripMargin)
    }(model.merge(src))

    commit(ctx, "compact") {
      GeoTable.compact(spark, root, targetFiles = 4)
    }(())
    commit(ctx, "expire") {
      GeoTable.vacuumExpire(spark, root, None, Some(RetainVersions))
    }(())
    timeTravel(ctx)
  }

  /** Reads one recorded version inside the retained window back with
    * `GeoTable.readAt` and compares it with the model at that version. */
  private def timeTravel(ctx: Ctx): Unit = {
    val cur = GeoManifest.read(ctx.spark, root).version
    val kept = atVersion.keys.filter(v => v > cur - RetainVersions + 2 && v < cur).toSeq
    atVersion.keys.filter(_ <= cur - RetainVersions).toSeq.foreach(atVersion.remove)
    if (kept.isEmpty) return
    val v = kept(rnd.nextInt(kept.length))
    ctx.op("time_travel", "travel")(checksumOf(GeoTable.readAt(ctx.spark, root, v))).foreach {
      case (cs, _) => ctx.check(cs == atVersion(v), s"time travel to v$v: graft $cs vs model ${atVersion(v)}")
    }
  }

  def finish(ctx: Ctx): Unit = {
    val m = GeoManifest.read(ctx.spark, root)
    val tableRoot = Paths.get(root)
    val liveBytes = m.files.map(f => Files.size(Paths.get(new java.net.URI(
      if (f.path.contains(":")) f.path else "file://" + f.path)))).sum
    val (_, stored) = Disk.usage(tableRoot)
    ctx.layer("stored_bytes_per_live_byte") = stored.toDouble / math.max(1L, liveBytes)
    ctx.layer("tables.live_files") = m.files.size
    ctx.layer("tables.live_delete_files") = m.deletes.size + m.eqDeletes.size
    ctx.layer("tables.data_bytes") = Disk.usage(tableRoot, Disk.isData)._2
    ctx.layer("tables.metadata_bytes") = Disk.usage(tableRoot, r => !Disk.isData(r))._2
  }
}
