package graftbench

import org.locationtech.jts.geom.{Coordinate, GeometryFactory, Polygon}

import scala.collection.mutable

/** Answers computed apart from graft and Spark: plain Scala over the
  * generated inputs (JTS only for exact point-in-polygon). Every check
  * in the workloads compares graft's output with one of these. */
object Reference {

  /** (count, Σid) of the points inside the closed box — what
    * `ST_Intersects(point, ST_MakeEnvelope(...))` keeps. */
  def rangeCount(xs: Array[Double], ys: Array[Double], ids: Array[Long],
                 x0: Double, y0: Double, x1: Double, y1: Double): (Long, Long) = {
    var n = 0L; var s = 0L; var i = 0
    while (i < xs.length) {
      val x = xs(i); val y = ys(i)
      if (x >= x0 && x <= x1 && y >= y0 && y <= y1) { n += 1; s += ids(i) }
      i += 1
    }
    (n, s)
  }

  private val gf = new GeometryFactory()

  /** Closed polygon from its vertices. */
  def polygon(pts: Seq[(Double, Double)]): Polygon =
    gf.createPolygon((pts :+ pts.head).map { case (x, y) => new Coordinate(x, y) }.toArray)

  /** Points strictly inside each zone (`ST_Within(point, zone)`), by zone
    * index; zones may overlap, so one point can count for several. */
  def zoneCounts(xs: Array[Double], ys: Array[Double], zones: Seq[Polygon]): Array[Long] = {
    val out = new Array[Long](zones.length)
    zones.zipWithIndex.foreach { case (z, k) =>
      val env = z.getEnvelopeInternal
      var i = 0
      while (i < xs.length) {
        if (env.contains(xs(i), ys(i)) &&
            z.contains(gf.createPoint(new Coordinate(xs(i), ys(i))))) out(k) += 1
        i += 1
      }
    }
    out
  }

  /** The keyed table as a map from id to version, with the order-free
    * checksum the workload reads back: (rows, Σid, Σver, Σ id·ver). */
  final class KeyedModel {
    val rows = mutable.TreeMap.empty[Long, Int]
    def append(ids: Seq[Long], ver: Int): Unit = ids.foreach { id =>
      require(!rows.contains(id), s"append of live id $id"); rows(id) = ver
    }
    def deleteKeys(ids: Iterable[Long]): Unit = ids.foreach(rows.remove)
    def upsert(kv: Iterable[(Long, Int)]): Unit = kv.foreach { case (k, v) => rows(k) = v }
    /** `UPDATE ... SET ver = ver + d WHERE id BETWEEN lo AND hi`. */
    def bumpRange(lo: Long, hi: Long, d: Int): Unit =
      rows.range(lo, hi + 1).toSeq.foreach { case (k, v) => rows(k) = v + d }
    def deleteRange(lo: Long, hi: Long): Unit =
      rows.range(lo, hi + 1).keys.toSeq.foreach(rows.remove)
    /** MERGE: matched source ids get `ver = v`, unmatched are inserted. */
    def merge(src: Seq[(Long, Int)]): Unit = upsert(src)
    def checksum: (Long, Long, Long, Long) =
      rows.foldLeft((0L, 0L, 0L, 0L)) { case ((n, a, b, c), (k, v)) =>
        (n + 1, a + k, b + v, c + k * v)
      }
  }

  /** Whitespace tokenization, as `split(trim(text), " +")`. */
  def tokens(text: String): Array[String] = text.trim.split(" +")

  /** Okapi BM25 with the +1 idf (k1 = 1.2, b = 0.75): the `k` best
    * (id, score), ordered by the score rounded to 1e-6 descending and id
    * ascending. */
  def bm25TopK(docs: collection.Map[Long, String], query: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): Seq[(Long, Double)] = {
    val toks = docs.map { case (id, t) => id -> tokens(t) }
    val n = toks.size.toDouble
    val avgdl = toks.values.map(_.length.toLong).sum.toDouble / math.max(n, 1.0)
    val q = query.distinct
    val df = q.map(t => t -> toks.values.count(_.contains(t)).toDouble).toMap
    val scored = toks.toSeq.flatMap { case (id, ts) =>
      val dl = ts.length.toDouble
      val terms = q.filter(t => ts.contains(t))
      if (terms.isEmpty) None
      else Some(id -> terms.map { t =>
        val tf = ts.count(_ == t).toDouble
        math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5)) * tf * (k1 + 1.0) /
          (tf + k1 * (1.0 - b + b * dl / avgdl))
      }.sum)
    }
    scored.sortBy { case (id, s) => (-BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, id) }
      .take(k)
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
  }

  /** Exact cosine top-k: score descending, id ascending. */
  def cosineTopK(vecs: collection.Map[Long, Array[Float]], q: Array[Float],
                 k: Int): Seq[(Long, Double)] =
    vecs.toSeq.map { case (id, v) => id -> cosine(v, q) }
      .sortBy { case (id, s) => (-s, id) }.take(k)

  /** Ids of a ranked list equal those of the reference, where two
    * neighbours whose reference scores differ by less than `tol` may
    * appear in either order. */
  def sameRanking(got: Seq[(Long, Double)], want: Seq[(Long, Double)], tol: Double): Boolean =
    got.length == want.length && got.indices.forall { i =>
      got(i)._1 == want(i)._1 ||
        (math.abs(got(i)._2 - want(i)._2) < tol &&
          want.exists { case (id, s) => id == got(i)._1 && math.abs(s - want(i)._2) < tol })
    }
}
