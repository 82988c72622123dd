package graftbench

import graft.ops.{CorpusPipeline, Dedup, Retrieval, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row}

import java.nio.file.{Path, Paths}
import scala.collection.mutable

/** Set-up cleans and dedups a synthetic corpus with planted exact
  * duplicates and builds a BM25 and an IVF-PQ index over the survivors;
  * the rounds interleave BM25, IVF-PQ and hybrid top-10 probes with index
  * appends, removals (each batch also replays ids already removed, as a
  * re-delivering CDC feed does) and upserts. No geometry is involved. */
final class RetrievalLoad extends Workload {
  val Docs = 1000
  val Dups = 100
  val Dim = 32
  val Clusters = 16
  val Vocab = 1500
  val K = 10
  val readKinds = Set("probe")
  val writeKinds = Set("mutation")

  private val stop = Seq("the", "and", "of", "to", "is", "in", "that", "it", "for", "with")
  private var words: Array[String] = _
  private var centres: Array[Array[Float]] = _
  private var rnd: scala.util.Random = _
  private var nextId = 0L
  /** The live corpus the indexes should hold. */
  private val texts = mutable.Map.empty[Long, String]
  private val vecs = mutable.Map.empty[Long, Array[Float]]
  private val removed = mutable.ArrayBuffer.empty[Long]
  private var bm25Root: String = _
  private var ivfRoot: String = _
  private var indexDir: Path = _

  private def word(i: Int): String = {
    val syl = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "qu", "do")
    var n = i; val sb = new StringBuilder
    do { sb ++= syl(n % syl.length); n /= syl.length } while (n > 0)
    sb.toString + (if (i % 2 == 0) "n" else "r")
  }

  /** 25–55 tokens: a third stopwords, the rest Zipf-distributed words. */
  private def text(): String = {
    val n = 25 + rnd.nextInt(31)
    (0 until n).map { _ =>
      if (rnd.nextDouble() < 0.33) stop(rnd.nextInt(stop.length))
      else words(math.min(Vocab - 1, (math.pow(Vocab, rnd.nextDouble()) - 1).toInt))
    }.mkString(" ")
  }

  private def vec(): Array[Float] = {
    val c = centres(rnd.nextInt(Clusters))
    Array.tabulate(Dim)(j => (c(j) + rnd.nextGaussian() * 0.35).toFloat)
  }

  private def docFrame(ctx: Ctx, ids: Seq[Long]): DataFrame =
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(
        ids.map(id => Row(id, texts(id), "en"))),
      StructType(Seq(StructField("id", LongType), StructField("text", StringType),
        StructField("lang", StringType))))

  private def vecFrame(ctx: Ctx, ids: Seq[Long]): DataFrame =
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(
        ids.map(id => Row(id, vecs(id).toSeq))),
      StructType(Seq(StructField("id", LongType), StructField("vec", ArrayType(FloatType, false)))))

  private def idFrame(ctx: Ctx, ids: Seq[Long]): DataFrame = {
    val sp = ctx.spark; import sp.implicits._
    ids.toDF("id")
  }

  def prepare(ctx: Ctx, dir: Path): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    rnd = new scala.util.Random(ctx.seed)
    words = Array.tabulate(Vocab)(word)
    centres = Array.fill(Clusters)(Array.fill(Dim)(rnd.nextGaussian().toFloat))
    texts.clear(); vecs.clear(); removed.clear()
    nextId = 0L
    for (_ <- 0 until Docs) { nextId += 1; texts(nextId) = text(); vecs(nextId) = vec() }
    // planted exact duplicates: new ids, an existing document's text
    val originals = texts.keys.toSeq.sorted
    val dupOf = (0 until Dups).map { _ =>
      nextId += 1
      val of = originals(rnd.nextInt(originals.length))
      texts(nextId) = texts(of); vecs(nextId) = vec()
      nextId
    }
    val raw = docFrame(ctx, texts.keys.toSeq.sorted).localCheckpoint()

    val cleaned = t.op("CorpusPipeline.clean", "corpus") {
      CorpusPipeline.clean(raw, col("id"), col("text"), col("lang"))
        .select("id").collect().map(_.getLong(0)).toSet
    }._1
    val groups = t.op("Dedup.exact", "corpus") {
      Dedup.exact(raw, col("id"), col("text")).select("keep_id", "copies").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }._1
    // reference: the lowest id of each distinct text survives
    val keep = texts.groupBy(_._2).map { case (_, g) => g.keys.min -> g.size.toLong }
    ctx.check(groups == keep, s"Dedup.exact: ${groups.size} groups vs reference ${keep.size}")
    ctx.check(dupOf.forall(id => !cleaned.contains(id)), "a planted exact duplicate survived clean")
    ctx.check(keep.keys.forall(cleaned.contains),
      s"clean dropped ${keep.keys.count(id => !cleaned.contains(id))} distinct documents")
    texts.keys.filterNot(cleaned.contains).toSeq.foreach { id => texts.remove(id); vecs.remove(id) }
    ctx.sample("corpus_docs", (Docs + Dups).toDouble)

    indexDir = dir
    bm25Root = dir.resolve("bm25").toString
    ivfRoot = dir.resolve("ivfpq").toString
    val live = texts.keys.toSeq.sorted
    t.op("TextAnalysis.buildTextIndex", "build") {
      TextAnalysis.buildTextIndex(spark, bm25Root, docFrame(ctx, live), col("id"), col("text"))
    }
    t.op("Similarity.buildIvfPqIndex", "build") {
      Similarity.buildIvfPqIndex(spark, ivfRoot, vecFrame(ctx, live), col("vec"), col("id"),
        k = Clusters, iters = 2, m = 8, pqK = 16, pqIters = 4)
    }
    rnd = new scala.util.Random(ctx.seed * 31 + 11)
  }

  private def query(): Seq[String] =
    (0 until 2 + rnd.nextInt(2)).map(_ => words(math.min(Vocab - 1, 3 + rnd.nextInt(120))))

  private def queryVec(): Array[Float] = {
    val ids = vecs.keys.toArray
    val v = vecs(ids(rnd.nextInt(ids.length)))
    v.map(x => (x + rnd.nextGaussian() * 0.2).toFloat)
  }

  private def ranked(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq

  private def bm25(ctx: Ctx): Unit = {
    val q = query()
    ctx.op("bm25_probe", "probe")(ranked(TextAnalysis.bm25Search(ctx.spark, bm25Root, q, K)))
      .foreach { case (got, span) =>
        val want = Reference.bm25TopK(texts, q, K)
        ctx.check(Reference.sameRanking(got, want, 1e-6), s"bm25 $q: graft $got vs reference $want")
        if (ctx.tracer.enabled) span.counters("files_kept") =
          graft.tables.GeoTable.scan(ctx.spark, s"$bm25Root/postings", col("term").isin(q: _*))
            .inputFiles.length
      }
  }

  /** Selective probe (2 of 16 clusters) scored for recall; an exhaustive
    * one (every cluster, a candidate pool covering the corpus) must equal
    * the brute-force top-10. */
  private def ivfpq(ctx: Ctx, exhaustive: Boolean): Unit = {
    val q = queryVec()
    val (nprobe, pool) = if (exhaustive) (Clusters, vecs.size + 1) else (2, 64)
    ctx.op(if (exhaustive) "ivfpq_exact_probe" else "ivfpq_probe", "probe") {
      val d = Similarity.ivfPqSearch(ctx.spark, ivfRoot, q, K, nprobe, pool)
      (ranked(d), d)
    }.foreach { case ((got, d), span) =>
      val want = Reference.cosineTopK(vecs, q, K)
      if (exhaustive)
        ctx.check(Reference.sameRanking(got, want, 1e-6), s"exhaustive ivfpq: graft $got vs brute force $want")
      else {
        ctx.check(got.length == K && got.forall(g => vecs.contains(g._1)), s"ivfpq returned $got")
        ctx.sample("recall_at_10", got.map(_._1).toSet.intersect(want.map(_._1).toSet).size / K.toDouble)
      }
      if (ctx.tracer.enabled) span.counters("files_kept") = d.inputFiles.length
    }
  }

  private def hybrid(ctx: Ctx): Unit = {
    val q = query(); val qv = queryVec()
    ctx.op("hybrid_probe", "probe") {
      val d = Retrieval.hybridSearch(ctx.spark, bm25Root, ivfRoot, q, qv, K, nprobe = 2, candidates = 64)
      (ranked(d), d)
    }.foreach { case ((got, d), span) =>
      ctx.check(got.nonEmpty && got.length <= K && got.forall(g => texts.contains(g._1)),
        s"hybrid $q returned $got")
      if (ctx.tracer.enabled) {
        val joins = Plans.joinNodes(d)
        span.counters("shuffle_joins") = joins.count(n => n == "SortMergeJoin" || n == "ShuffledHashJoin")
        span.counters("broadcast_joins") = joins.count(_.startsWith("Broadcast"))
        span.note = joins.sorted.mkString("+")
      }
    }
  }

  private def newDocs(n: Int): Seq[Long] = (0 until n).map { _ =>
    nextId += 1; texts(nextId) = text(); vecs(nextId) = vec(); nextId
  }

  /** `n` live ids skewed towards the newest. */
  private def pick(n: Int): Seq[Long] = {
    val live = texts.keys.toArray.sorted
    val out = mutable.LinkedHashSet.empty[Long]
    while (out.size < n) { val u = rnd.nextDouble(); out += live(live.length - 1 - (u * u * live.length).toInt) }
    out.toSeq
  }

  private def mutate(ctx: Ctx, name: String)(f: => Any): Unit = ctx.op(name, "mutation")(f)

  /** The exhaustive IVF-PQ probe, the check that IVF-PQ can equal brute
    * force, runs here once per run; the rounds time the selective one. */
  def warmup(ctx: Ctx): Unit = {
    hybrid(ctx) // runs both legs: the BM25 and the IVF-PQ probe
    mutations(ctx, i => if (i == 1) ivfpq(ctx, exhaustive = true))
  }

  def round(ctx: Ctx, n: Int): Unit = {
    bm25(ctx); ivfpq(ctx, exhaustive = false); hybrid(ctx)
    mutations(ctx)
  }

  /** Appends, removals and upserts on both indexes, `between(i)` after
    * the i-th pair. Removal batches replay three ids that are already
    * gone, as a CDC feed that re-delivers does. */
  private def mutations(ctx: Ctx, between: Int => Unit = _ => ()): Unit = {
    val spark = ctx.spark
    val added = newDocs(20)
    mutate(ctx, "bm25_append")(TextAnalysis.appendToTextIndex(spark, bm25Root,
      docFrame(ctx, added), col("id"), col("text")))
    mutate(ctx, "ivf_append")(Similarity.appendToIvfIndex(spark, ivfRoot,
      vecFrame(ctx, added), col("vec"), col("id")))
    between(0)

    val gone = pick(10)
    val batch = gone ++ removed.takeRight(3)
    mutate(ctx, "bm25_remove")(TextAnalysis.removeFromTextIndex(spark, bm25Root, idFrame(ctx, batch)))
    mutate(ctx, "ivf_remove")(Similarity.removeFromIvfIndex(spark, ivfRoot, idFrame(ctx, batch)))
    gone.foreach { id => texts.remove(id); vecs.remove(id) }
    removed ++= gone
    between(1)

    val replaced = pick(10)
    replaced.foreach { id => texts(id) = text(); vecs(id) = vec() }
    val upserts = replaced ++ newDocs(5)
    mutate(ctx, "bm25_upsert")(TextAnalysis.upsertTextIndex(spark, bm25Root,
      docFrame(ctx, upserts), col("id"), col("text")))
    mutate(ctx, "ivf_upsert")(Similarity.upsertIvfIndex(spark, ivfRoot,
      vecFrame(ctx, upserts), col("vec"), col("id")))
    between(2)
  }

  def finish(ctx: Ctx): Unit = {
    ctx.layer("ops.index_bytes") = Disk.usage(indexDir)._2
    val postings = graft.tables.GeoManifest.read(ctx.spark, s"$bm25Root/postings")
    val vectors = graft.tables.GeoManifest.read(ctx.spark, s"$ivfRoot/vectors")
    ctx.layer("tables.live_files") = postings.files.size + vectors.files.size
    ctx.layer("tables.live_delete_files") = Seq(postings, vectors)
      .map(m => m.deletes.size + m.eqDeletes.size).sum
    val roots = Seq(Paths.get(bm25Root, "postings"), Paths.get(ivfRoot, "vectors"))
    ctx.layer("tables.data_bytes") = roots.map(r => Disk.usage(r, Disk.isData)._2).sum
    ctx.layer("tables.metadata_bytes") = roots.map(r => Disk.usage(r, x => !Disk.isData(x))._2).sum
  }
}
