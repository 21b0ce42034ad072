package graftbench

import scala.collection.mutable

import graft.ext.{MinHash, TextOps, VectorOps}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Batch LLM-data operators over a fixed corpus and a disk IVF index
  * built during set-up: the probe that measures the `TextOps`,
  * `MinHash` and `VectorOps` layers in traced runs. A round is one
  * corpus pass (quality score, `exactDedup`, LSH candidates plus
  * verified pairs) and `QueriesPerRound` retrieval requests drawn from a
  * seeded pool; each request runs one `bm25TopK` and one
  * `annIvfIndexed` query. Every result is checked against a brute-force
  * reference. */
object CorpusBatch {
  val Docs = 1000
  val Vectors = 4000
  val Dim = 16
  val Clusters = 16
  val Nlist = 16
  val Nprobe = 4
  val K = 10
  val QueriesPerRound = 3
  val PoolSize = 64
  val MinRecall = 0.8
}

final class CorpusBatch(ctx: Ctx, tag: String) {
  import CorpusBatch._
  import ctx.spark

  private val corpusGen = new Corpus(ctx.seed)
  private val docs: Seq[Doc] = corpusGen.next(Docs)
  private val rnd = new scala.util.Random(ctx.seed * 31 + 7)
  private val centers = Array.fill(Clusters, Dim)(rnd.nextGaussian())
  private val vecs: Array[Array[Double]] = Array.tabulate(Vectors) { i =>
    centers(i % Clusters).map(_ + 0.15 * rnd.nextGaussian())
  }
  /** Query pool: text queries of 2-3 mid-frequency words; query
    * vectors near a random corpus vector. */
  private val textPool: IndexedSeq[String] = IndexedSeq.fill(PoolSize) {
    Seq.fill(2 + rnd.nextInt(2))(corpusGen.vocab(20 + rnd.nextInt(400))).mkString(" ")
  }
  private val vecPool: IndexedSeq[Array[Double]] = IndexedSeq.fill(PoolSize) {
    vecs(rnd.nextInt(Vectors)).map(_ + 0.05 * rnd.nextGaussian())
  }
  private val draw = new scala.util.Random(ctx.seed * 17 + 3)

  private var corpus: DataFrame = _
  private var ivfPath: String = _

  // references, computed once
  private val model = new CleanModel
  private val wantQuality = docs.count(d => model.quality(d.text)).toLong
  private val wantExact = docs.map(_.text).distinct.size.toLong
  private val wantPairs: Set[(Long, Long)] = exactPairs()
  private val bm25Ref = new Bm25Ref(docs)

  private var buildIvfMs = Double.NaN
  private var lshCandidates = -1L
  private var verifiedPairs = 0L
  private val recalls = mutable.ArrayBuffer[Double]()

  def setup(): Unit = {
    val root = ctx.dir(tag)
    val docRows = docs.map(d => Row(d.id, d.text))
    spark.createDataFrame(spark.sparkContext.parallelize(docRows, ctx.cores),
        StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
      .write.parquet(s"$root/docs")
    val vecRows = vecs.indices.map(i => Row(i.toLong, vecs(i).toSeq))
    spark.createDataFrame(spark.sparkContext.parallelize(vecRows, ctx.cores),
        StructType(Seq(StructField("vec_id", LongType),
          StructField("embedding", ArrayType(DoubleType, containsNull = false)))))
      .write.parquet(s"$root/vecs")
    ivfPath = s"$root/ivf"
    val t0 = System.nanoTime()
    VectorOps.buildIvfIndex(spark.read.parquet(s"$root/vecs"), ivfPath, nlist = Nlist)
    buildIvfMs = (System.nanoTime() - t0) / 1e6
    corpus = spark.read.parquet(s"$root/docs")
  }

  def round(rec: Rec): Unit = {
    val t0 = System.nanoTime()
    ctx.span("corpus_pass")(corpusPass(rec))
    val passNs = System.nanoTime() - t0
    rec.fold += passNs / 1e6
    var queryNs = 0L
    (0 until QueriesPerRound).foreach { _ =>
      val qi = draw.nextInt(PoolSize)
      val s = System.nanoTime()
      ctx.span("query")(query(qi, rec))
      val ns = System.nanoTime() - s
      queryNs += ns
      rec.samples += ns / 1e6
    }
    rec.items += Docs
    rec.busyNs += passNs + queryNs
  }

  private def corpusPass(rec: Rec): Unit = {
    val q = ctx.span("text.quality") {
      TextOps.withQualityScore(corpus)
        .filter(col("n_tokens") >= Corpus.MinTokens &&
          col("mean_word_len").between(Corpus.MinWordLen, Corpus.MaxWordLen))
        .count()
    }
    rec.check(q == wantQuality, s"quality kept $q, model $wantQuality")
    val e = ctx.span("text.exact_dedup")(TextOps.exactDedup(corpus).count())
    rec.check(e == wantExact, s"exactDedup kept $e, model $wantExact")
    val pairs = ctx.span("text.near_dup") {
      MinHash.lshVerifiedPairs(corpus, threshold = Corpus.Threshold)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    verifiedPairs = pairs.size
    rec.check(pairs == wantPairs, s"near-dup pairs ${pairs.size}, model ${wantPairs.size}" +
      s" (missing ${(wantPairs -- pairs).take(3)}, extra ${(pairs -- wantPairs).take(3)})")
  }

  private def query(qi: Int, rec: Rec): Unit = {
    val text = textPool(qi)
    val top = ctx.span("text.bm25") {
      TextOps.bm25TopK(corpus, text, K).collect().map(r => (r.getLong(0), r.getDouble(1)))
    }
    rec.check(bm25Ref.agrees(text, top, K), s"bm25 '$text' top-$K disagrees with reference")
    val qv = vecPool(qi)
    val qdf = spark.createDataFrame(spark.sparkContext.parallelize(
        Seq(Row(-1L - qi, qv.toSeq)), 1),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(DoubleType, containsNull = false)))))
    val ann = ctx.span("vector.ann_ivf") {
      VectorOps.annIvfIndexed(qdf, ivfPath, K, nprobe = Nprobe)
        .select("corpus_id", "sim").collect().map(r => (r.getLong(0), r.getDouble(1)))
    }
    val exact = vecs.indices.map(i => i.toLong -> cos(qv, vecs(i))).sortBy(x => (-x._2, x._1)).take(K)
    val recall = ann.map(_._1).toSet.intersect(exact.map(_._1).toSet).size.toDouble / K
    recalls += recall
    val sound = ann.forall { case (id, sim) => math.abs(sim - cos(qv, vecs(id.toInt))) < 1e-9 }
    rec.check(ann.length == K && sound && recall >= MinRecall,
      s"ivf query $qi: ${ann.length} results, sound=$sound, recall=$recall")
  }

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / math.sqrt(na * nb)
  }

  /** All pairs at 3-shingle Jaccard ≥ threshold (docs with ≥ 3 tokens). */
  private def exactPairs(): Set[(Long, Long)] = {
    val sh = docs.map(d => d.id -> d.text.split(" ", -1).sliding(Corpus.ShingleN)
      .filter(_.length == Corpus.ShingleN).map(_.mkString(" ")).toSet)
      .filter(_._2.nonEmpty)
    val post = mutable.HashMap[String, mutable.ArrayBuffer[Int]]()
    sh.indices.foreach(i => sh(i)._2.foreach(s => post.getOrElseUpdate(s, mutable.ArrayBuffer()) += i))
    sh.indices.flatMap { i =>
      val (id, a) = sh(i)
      a.iterator.flatMap(s => post(s)).filter(_ > i).toSet.iterator.flatMap { j: Int =>
        val (jd, b) = sh(j)
        val inter = a.count(b.contains)
        if (inter.toDouble / (a.size + b.size - inter) >= Corpus.Threshold)
          Some((math.min(id, jd), math.max(id, jd))) else None
      }
    }.toSet
  }

  def verify(rec: Rec): Unit =
    lshCandidates = MinHash.lshCandidates(corpus, bands = 16).count()

  def layers(attr: Attribution): Map[String, Double] = {
    val std = Seq("ms_p50", "jobs", "driver_ms", "task_ms", "shuffle_bytes")
    Seq("quality", "exact_dedup", "near_dup", "bm25").flatMap(v =>
      Layers.call(attr, Layers.named(ctx, s"text.$v"), s"ext.text.$v", std)).toMap ++
    Layers.call(attr, Layers.named(ctx, "vector.ann_ivf"), "ext.vector.ann_ivf",
      Seq("ms_p50", "jobs", "driver_ms", "task_ms")) ++
    Map(
      "ext.vector.ann_ivf.files_read_ratio" -> attr.filesReadRatio(
        Layers.named(ctx, "vector.ann_ivf"), ivfPath).getOrElse(Double.NaN),
      "ext.vector.build_ivf.ms" -> buildIvfMs,
      "ext.text.lsh_candidates" -> lshCandidates.toDouble,
      "ext.text.verified_pairs" -> verifiedPairs.toDouble,
      "ext.text.verify_yield" -> verifiedPairs.toDouble / math.max(1L, lshCandidates))
  }

  def details: Map[String, Any] = Map(
    "loop" -> "closed: one request in flight",
    "docs" -> Docs, "vectors" -> Vectors, "dim" -> Dim, "nlist" -> Nlist,
    "nprobe" -> Nprobe, "k" -> K, "queries_per_round" -> QueriesPerRound,
    "pool" -> PoolSize, "mix" -> Corpus.Mix.toMap,
    "planted_pairs" -> wantPairs.size,
    "ivf_recall_mean" -> (if (recalls.isEmpty) Double.NaN else recalls.sum / recalls.size),
    "ivf_recall_min" -> (if (recalls.isEmpty) Double.NaN else recalls.min))
}

/** Brute-force BM25 (k1 1.2, b 0.75, tokens = lowercase `[a-z0-9]+`
  * runs) over the whole corpus, the reference for `bm25TopK`. */
final class Bm25Ref(docs: Seq[Doc], k1: Double = 1.2, b: Double = 0.75) {
  private val toks: Seq[(Long, Array[String])] = docs.map(d =>
    d.id -> d.text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty))
  private val avgdl = toks.map(_._2.length.toDouble).sum / toks.size
  private val n = toks.size.toDouble

  def scores(query: String): Seq[(Long, Double)] = {
    val q = query.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).distinct
    val df = q.map(t => t -> toks.count(_._2.contains(t)).toDouble).toMap
    toks.flatMap { case (id, ts) =>
      val dl = ts.length.toDouble
      val parts = q.flatMap { t =>
        val tf = ts.count(_ == t).toDouble
        if (tf == 0) None
        else Some(math.log(1 + (n - df(t) + 0.5) / (df(t) + 0.5)) * tf * (k1 + 1) /
          (tf + k1 * (1 - b + b * dl / avgdl)))
      }
      if (parts.isEmpty) None else Some(id -> parts.sum)
    }
  }

  /** The returned list is a correct top-k: each score matches the
    * reference for its doc, and no unreturned doc scores above the
    * lowest returned score (ties within 1e-5 are not distinguished). */
  def agrees(query: String, got: Seq[(Long, Double)], k: Int): Boolean = {
    val ref = scores(query).toMap
    val want = math.min(k, ref.size)
    got.size == want && got.forall { case (id, s) => ref.get(id).exists(r => math.abs(r - s) < 1e-5) } && {
      val floor = if (got.isEmpty) Double.MaxValue else got.map(_._2).min
      val ids = got.map(_._1).toSet
      ref.forall { case (id, s) => ids.contains(id) || s <= floor + 1e-5 }
    }
  }
}
