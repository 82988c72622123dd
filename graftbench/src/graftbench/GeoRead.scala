package graftbench

import graft.geom.Geom
import graft.plans.SpatialJoin
import graft.tables.{GeoManifest, GeoTable}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row}

import java.nio.file.Path

/** The spatial half of [[Geo]]: selective and wide range queries through
  * SQL on a catalog table and through `GeoTable.scan`, and point-in-zone
  * joins through `SpatialJoin.tileJoin` and SQL (`SpatialJoinRewrite`), on
  * a clustered, skewed point table with many files that nothing commits
  * to after set-up. */
final class GeoRead {
  val Points = 60000
  val Files = 32
  val Zones = 24

  private var xs: Array[Double] = _
  private var ys: Array[Double] = _
  private var ids: Array[Long] = _
  private var zones: Seq[(Int, Seq[(Double, Double)])] = _
  private var zoneWant: Map[Int, Long] = _
  private var root: String = _
  private var table: String = _
  private var zoneTable: String = _
  private var zoneRoot: String = _
  private var rnd: scala.util.Random = _

  /** 70 % of the points in eight Gaussian clusters of different spread,
    * the rest uniform over [0, 100]²; zones are hexagons around the
    * cluster centres and in the sparse background. */
  private def generate(seed: Long): Unit = {
    val r = new scala.util.Random(seed)
    val centres = Array.fill(8)((10 + r.nextDouble() * 80, 10 + r.nextDouble() * 80, 1.0 + r.nextDouble() * 4))
    xs = new Array[Double](Points); ys = new Array[Double](Points)
    ids = Array.tabulate(Points)(i => i.toLong)
    for (i <- 0 until Points) {
      val (x, y) =
        if (r.nextDouble() < 0.7) {
          val (cx, cy, sd) = centres(r.nextInt(centres.length))
          (cx + r.nextGaussian() * sd, cy + r.nextGaussian() * sd)
        } else (r.nextDouble() * 100, r.nextDouble() * 100)
      xs(i) = math.min(100.0, math.max(0.0, x)); ys(i) = math.min(100.0, math.max(0.0, y))
    }
    zones = (0 until Zones).map { z =>
      val (cx, cy) =
        if (z % 3 == 2) (5 + r.nextDouble() * 90, 5 + r.nextDouble() * 90)
        else { val c = centres(z % centres.length); (c._1 + r.nextGaussian() * 3, c._2 + r.nextGaussian() * 3) }
      val rad = 1.5 + r.nextDouble() * 4; val rot = r.nextDouble()
      z -> (0 until 6).map { k =>
        val a = rot + k * math.Pi / 3
        (cx + rad * math.cos(a), cy + rad * math.sin(a))
      }
    }
  }

  def prepare(ctx: Ctx, dir: Path): Unit = {
    val spark = ctx.spark
    generate(ctx.seed)
    val wh = ctx.work.resolve("warehouse")
    val set = dir.getFileName.toString
    table = s"geo.$set.pts"; zoneTable = s"geo.$set.zones"
    root = wh.resolve(set).resolve("pts").toString
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS geo.$set")
    val schema = StructType(Seq(StructField("id", LongType), StructField("w", IntegerType),
      StructField("x", DoubleType), StructField("y", DoubleType)))
    val rows = (0 until Points).map(i => Row(ids(i), (ids(i) % 97).toInt, xs(i), ys(i)))
    // the Z-order layout range-partitions into as many files as the
    // input has partitions
    val pts = spark.createDataFrame(spark.sparkContext.parallelize(rows, Files), schema)
      .select(col("id"), col("w"), expr("st_point(x, y)").as("g"))
    GeoTable.create(spark, root, pts, geomCol = Some("g"), zorder = true)
    val zs = spark.createDataFrame(spark.sparkContext.parallelize(zones.map { case (z, p) =>
        Row(z, Geom.serialize(Reference.polygon(p)))
      }, 1), StructType(Seq(StructField("zid", IntegerType), StructField("zg", BinaryType))))
    zoneRoot = wh.resolve(set).resolve("zones").toString
    GeoTable.create(spark, zoneRoot, zs, geomCol = Some("zg"))
    val counts = Reference.zoneCounts(xs, ys, zones.map(z => Reference.polygon(z._2)))
    zoneWant = zones.map(_._1).zip(counts).filter(_._2 > 0).toMap
    rnd = new scala.util.Random(ctx.seed * 31 + 7)
  }

  /** A query window: selective ones sit near the data (a random point's
    * neighbourhood), wide ones cover a third to a half of the extent. */
  private def window(wide: Boolean): (Double, Double, Double, Double) = {
    def q(v: Double) = math.rint(v * 1000) / 1000
    val (w, h) = if (wide) (30 + rnd.nextDouble() * 20, 30 + rnd.nextDouble() * 20)
                 else (1 + rnd.nextDouble() * 3, 1 + rnd.nextDouble() * 3)
    val i = rnd.nextInt(Points)
    val x0 = q(math.max(0, xs(i) - w / 2)); val y0 = q(math.max(0, ys(i) - h / 2))
    (x0, y0, q(x0 + w), q(y0 + h))
  }

  private val ScanFiles = """GeoCowScan\(files=(\d+)""".r

  private def envSql(e: (Double, Double, Double, Double)): String =
    s"st_makeenvelope(${e._1}D, ${e._2}D, ${e._3}D, ${e._4}D)"

  private def range(ctx: Ctx, viaSql: Boolean, wide: Boolean): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val e = window(wide)
    val name = s"${if (viaSql) "sql" else "scan"}_range_${if (wide) "wide" else "sel"}"
    val pred = s"st_intersects(g, ${envSql(e)})"
    val res = ctx.op(name, "range") {
      val df =
        if (viaSql) spark.sql(s"SELECT count(*) AS n, sum(id) AS s FROM $table WHERE $pred")
        else t.span("GeoTable.scan")(GeoTable.scan(spark, root, expr(pred)))
          .agg(count(lit(1)).as("n"), sum(col("id")).as("s"))
      val plan = t.span("plan")(df.queryExecution.executedPlan)
      val r = t.span("execute")(df.collect().head)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), plan)
    }
    res.foreach { case ((n, s, plan), span) =>
      val want = Reference.rangeCount(xs, ys, ids, e._1, e._2, e._3, e._4)
      ctx.check((n, s) == want, s"$name $e: graft ($n, $s) vs reference $want")
      if (t.enabled) {
        val m0 = System.nanoTime()
        val m = GeoManifest.read(spark, root)
        ctx.sample("tables.manifest_read_ms", (System.nanoTime() - m0) / 1e6)
        // files the executed scan planned: the catalog scan names its
        // count, GeoTable.scan reads what the manifest keeps for the box
        val kept =
          if (viaSql) ScanFiles.findFirstMatchIn(plan.toString).map(_.group(1).toInt).getOrElse(m.files.size)
          else m.prune(new org.locationtech.jts.geom.Envelope(e._1, e._3, e._2, e._4)).size
        span.counters("files_kept") = kept
        span.counters("files_total") = m.files.size
        span.counters("rows_returned") = n.toDouble
        if (viaSql) span.counters("bbox_pushed") = if (kept < m.files.size) 1 else 0
      }
    }
  }

  private def join(ctx: Ctx, viaSql: Boolean): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val name = if (viaSql) "sql_join" else "tile_join"
    val res = ctx.op(name, "join") {
      val df =
        if (viaSql) spark.sql(
          s"SELECT z.zid, count(*) AS n FROM $table p JOIN $zoneTable z " +
            "ON st_within(p.g, z.zg) GROUP BY z.zid")
        else {
          val pts = t.span("GeoTable.read")(GeoTable.read(spark, root))
          val zs = t.span("GeoTable.read")(GeoTable.read(spark, zoneRoot))
          t.span("SpatialJoin.tileJoin")(
            SpatialJoin.tileJoin(pts, col("g"), zs, col("zg"), "within", cellSize = 2.0))
            .groupBy("zid").agg(count(lit(1)).as("n"))
        }
      t.span("plan")(df.queryExecution.executedPlan)
      val rows = t.span("execute")(df.collect())
      (rows.map(r => r.getInt(0) -> r.getLong(1)).toMap, df)
    }
    res.foreach { case ((got, df), span) =>
      ctx.check(got == zoneWant, s"$name: graft $got vs reference $zoneWant")
      if (t.enabled && viaSql) span.counters("rewritten") =
        if (Plans.joinNodes(df).exists(n => n == "SortMergeJoin" || n.endsWith("HashJoin"))) 1 else 0
    }
  }

  def warmup(ctx: Ctx): Unit = {
    for (sqlPath <- Seq(true, false); wide <- Seq(false, true)) range(ctx, sqlPath, wide)
    join(ctx, viaSql = false); join(ctx, viaSql = true)
  }

  def round(ctx: Ctx, n: Int): Unit = {
    for (_ <- 0 until 2; sqlPath <- Seq(true, false); wide <- Seq(false, true))
      range(ctx, sqlPath, wide)
    join(ctx, viaSql = false); join(ctx, viaSql = true)
  }

  def finish(ctx: Ctx): Unit = {
    val wkbs = (xs.indices.map(i => Geom.serialize(Geom.point(xs(i), ys(i)))) ++
      zones.map(z => Geom.serialize(Reference.polygon(z._2)))).toArray
    ctx.layer("geom.wkb_decode_ns") = Stats.median((1 to 5).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < wkbs.length) { Geom.deserialize(wkbs(i)); i += 1 }
      (System.nanoTime() - t0).toDouble / wkbs.length
    })
    val m = GeoManifest.read(ctx.spark, root)
    ctx.layer("tables.live_files") = m.files.size
    ctx.layer("tables.live_delete_files") = m.deletes.size + m.eqDeletes.size
    val tableRoot = java.nio.file.Paths.get(root)
    ctx.layer("tables.data_bytes") = Disk.usage(tableRoot, Disk.isData)._2
    ctx.layer("tables.metadata_bytes") = Disk.usage(tableRoot, r => !Disk.isData(r))._2
  }
}

object Plans {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children.flatMap(nodes) ++ other.subqueries.flatMap(nodes))
  }

  /** Join operator names of the executed (final adaptive) plan. */
  def joinNodes(df: DataFrame): Seq[String] =
    nodes(df.queryExecution.executedPlan).map(_.nodeName)
      .filter(n => n.contains("Join") || n == "CartesianProduct")
}
