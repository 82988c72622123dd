package graftbench

/** Hand-checked tiny inputs for the reference computations the workloads
  * check graft against. Run with `python3 graftbench/build.py --test`. */
object ReferenceTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => println(s"  $name threw $e"); false }
    println(s"${if (pass) "ok  " else "FAIL"} $name")
    if (!pass) failures += 1
  }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    check("rangeCount keeps the closed box") {
      val xs = Array(0.0, 1.0, 2.0, 2.0, 3.5)
      val ys = Array(0.0, 1.0, 2.0, 2.5, 1.0)
      val ids = Array(10L, 11L, 12L, 13L, 14L)
      // (1,1) and (2,2) sit on the box's corners, (0,0) and (2,2.5) and (3.5,1) outside
      Reference.rangeCount(xs, ys, ids, 1.0, 1.0, 2.0, 2.0) == ((2L, 23L)) &&
        Reference.rangeCount(xs, ys, ids, 5.0, 5.0, 6.0, 6.0) == ((0L, 0L))
    }

    check("zoneCounts counts points strictly inside each zone") {
      val square = Reference.polygon(Seq((0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0)))
      val triangle = Reference.polygon(Seq((0.0, 0.0), (4.0, 0.0), (0.0, 4.0)))
      // (1,1) in both; (3,3) in the square only; (4,2) on the square's
      // edge, in neither; (2,2) on the triangle's hypotenuse
      val xs = Array(1.0, 3.0, 4.0, 2.0)
      val ys = Array(1.0, 3.0, 2.0, 2.0)
      Reference.zoneCounts(xs, ys, Seq(square, triangle)).toSeq == Seq(3L, 1L)
    }

    check("KeyedModel follows every churn operation") {
      val m = new Reference.KeyedModel
      m.append(Seq(1L, 2L, 3L, 4L), 0) // {1:0, 2:0, 3:0, 4:0}
      m.deleteKeys(Seq(2L, 9L)) // {1:0, 3:0, 4:0}
      m.upsert(Seq(3L -> 5, 7L -> 1)) // {1:0, 3:5, 4:0, 7:1}
      m.bumpRange(3L, 4L, 2) // {1:0, 3:7, 4:2, 7:1}
      m.deleteRange(6L, 8L) // {1:0, 3:7, 4:2}
      m.merge(Seq(1L -> 4, 5L -> 6)) // {1:4, 3:7, 4:2, 5:6}
      m.rows.toSeq == Seq(1L -> 4, 3L -> 7, 4L -> 2, 5L -> 6) &&
        m.checksum == ((4L, 13L, 19L, 4L + 21L + 8L + 30L))
    }

    check("KeyedModel refuses to append a live id") {
      val m = new Reference.KeyedModel
      m.append(Seq(1L), 0)
      scala.util.Try(m.append(Seq(1L), 0)).isFailure
    }

    check("bm25TopK matches a hand computation") {
      // N = 3, avgdl = 3; "a" in docs 1 and 2 (df 2), "b" in doc 3 (df 1)
      val docs = Map(1L -> "a a c", 2L -> "a c  c", 3L -> " b c c ")
      val idf2 = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))
      val idf1 = math.log(1 + (3 - 1 + 0.5) / (1 + 0.5))
      def w(idf: Double, tf: Double) = idf * tf * 2.2 / (tf + 1.2) // dl = avgdl
      val got = Reference.bm25TopK(docs, Seq("a", "b"), 3)
      got.map(_._1) == Seq(3L, 1L, 2L) &&
        close(got(0)._2, w(idf1, 1)) && close(got(1)._2, w(idf2, 2)) && close(got(2)._2, w(idf2, 1))
    }

    check("bm25TopK breaks score ties by id and drops non-matching docs") {
      val docs = Map(5L -> "x y", 2L -> "x y", 9L -> "y y")
      Reference.bm25TopK(docs, Seq("x"), 10).map(_._1) == Seq(2L, 5L)
    }

    check("cosineTopK ranks by cosine, then id") {
      val vecs = Map(1L -> Array(1f, 0f), 2L -> Array(0f, 1f), 3L -> Array(2f, 0f), 4L -> Array(1f, 1f))
      val got = Reference.cosineTopK(vecs, Array(1f, 0f), 3)
      got.map(_._1) == Seq(1L, 3L, 4L) && close(got(2)._2, math.sqrt(0.5))
    }

    check("sameRanking lets near-equal neighbours swap, nothing else") {
      val want = Seq(1L -> 0.9, 3L -> (0.8 + 1e-9), 2L -> 0.8)
      Reference.sameRanking(Seq(1L -> 0.9, 2L -> 0.8, 3L -> 0.8), want, 1e-6) &&
        !Reference.sameRanking(Seq(2L -> 0.8, 1L -> 0.9, 3L -> 0.8), want, 1e-6) &&
        !Reference.sameRanking(want.take(2), want, 1e-6)
    }

    if (failures > 0) { println(s"$failures reference test(s) failed"); sys.exit(1) }
    println("all reference tests passed")
  }
}
