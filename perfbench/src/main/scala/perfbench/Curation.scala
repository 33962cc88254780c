package perfbench

import java.nio.file.Path

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.textops.{Dedup, Similarity}

/** The LLM-data operators: near-duplicate curation of a document corpus and
  * top-k search over an embedding corpus, through `textops.Dedup` and
  * `textops.Similarity`.
  *
  * Inputs have the shape of the sf0.1 `documents` and `embeddings` tables:
  * 5000 documents of 10-70 words over a 40-word vocabulary, times
  * [[Curation.DocMultiplier]], with seeded near-duplicate clusters, and
  * 2000 64-d vectors around 10 labels. Set-up writes them and builds the IVF
  * index. A round runs the near-dup pipeline (MinHash-LSH →
  * connectedComponents → survivorSelection) once, then exact `cosineTopK`
  * batches and IVF probe batches. Exact top-k is checked against a brute
  * force, every near-dup pair's true Jaccard against the threshold, and IVF
  * recall@k against exact top-k.
  */
final class Curation extends Workload {
  import Curation._

  final case class Input(dir: Path, docs: IndexedSeq[(Long, String)],
      vecs: IndexedSeq[(Long, Array[Float])], queries: Seq[Seq[Long]],
      cents: Array[Array[Double]], indexBuildS: Double,
      exactBatches: Int = ExactBatches, annBatches: Int = AnnBatches,
      docsDir: Option[Path] = None) {
    def docsPath: String =
      docsDir.getOrElse(dir).resolve("documents.parquet").toString
    def embPath: String = dir.resolve("embeddings.parquet").toString
    def ivfPath: String = dir.resolve("ivf").toString
  }

  val gated = Map("search_p50_s" -> "topk", "full_pass_s" -> "dedup")

  def prepare(spark: SparkSession, dir: Path, seed: Long, size: Size): Input = {
    Dirs.delete(dir)
    val rnd = new Random(seed)
    val (nDocs, nVecs) = size match {
      case Size.Full  => (5000 * DocMultiplier, 2000)
      case Size.Small => (1250, 500)
    }
    val docs = documents(rnd, nDocs)
    val vecs = embeddings(rnd, nVecs)
    writeDocs(spark, docs, dir)
    spark.createDataFrame(spark.sparkContext.parallelize(vecs.map { case (id, v) =>
      Row(id, v.toSeq, (id % 10).toInt) }, 8), embSchema)
      .write.parquet(s"$dir/embeddings.parquet")
    val queries = Seq.fill(ExactBatches + AnnBatches)(
      Seq.fill(BatchSize)(vecs(rnd.nextInt(vecs.size))._1).distinct)
    Input(dir, docs, vecs, queries, Array.empty, 0.0)
  }

  private def writeDocs(spark: SparkSession, docs: Seq[(Long, String)],
      dir: Path): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(docs.map { case (id, text) =>
      Row(id, text, langs((id % langs.size).toInt), s"src${id % 20}", text.length.toLong)
    }, 8), docSchema).write.parquet(s"$dir/documents.parquet")

  /** A small document copy for the near-dup pipeline, and one batch of
    * each probe against the set-up's own index, so the warm-up does not
    * build a second one. */
  override def warmup(spark: SparkSession, full: Input, dir: Path,
      seed: Long): Input = {
    Dirs.delete(dir)
    val docs = documents(new Random(seed + 1), 1250)
    writeDocs(spark, docs, dir)
    full.copy(docs = docs, docsDir = Some(dir), exactBatches = 1, annBatches = 1)
  }

  /** The IVF serving index. */
  override def build(spark: SparkSession, in: Input): Input = {
    val t0 = System.nanoTime()
    val corpus = spark.read.parquet(in.embPath)
    val cents = Similarity.trainIvfCentroids(corpus, nCentroids = 16)
    Similarity.saveIvfIndex(corpus, cents, in.ivfPath)
    in.copy(cents = cents, indexBuildS = (System.nanoTime() - t0) / 1e9)
  }

  def round(spark: SparkSession, in: Input, rec: Recorder, round: Int): Unit = {
    val t = rec.tracer
    t.count("textops.Similarity.index_build_s", in.indexBuildS)
    val docs = spark.read.parquet(in.docsPath)

    val dedup = rec.op("dedup") {
      t.span("textops.Dedup.self") {
        val (pairs, relPairs) = Dedup.minhashLshPairsReleasable(docs,
          n = 3, k = Signature, bands = 16, estThreshold = Threshold)
        val pairRows = pairs.transform(graft.CacheHandles.persistTracked)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val (comps, relComps) = Dedup.connectedComponentsReleasable(pairs,
          nodes = Some(docs))
        val kept = Dedup.survivorSelection(comps, docs)
          .filter(col("keep") === 1).count()
        relComps(); relPairs()
        (pairRows, kept)
      }
    }
    dedup.foreach { case (pairs, kept) =>
      t.count("textops.Dedup.candidate_pairs", pairs.length)
      t.count("textops.Dedup.kept", kept.toDouble)
      t.count("textops.Dedup.docs", in.docs.size)
      val text = in.docs.toMap
      val trueJ = pairs.map { case (a, b) => jaccard(shingles(text(a)), shingles(text(b))) }
      val low = trueJ.count(_ < MinTrueJaccard)
      rec.check(low == 0, s"$low near-dup pairs below true Jaccard $MinTrueJaccard")
      rec.notes("pairs_below_threshold") = trueJ.count(_ < Threshold).toDouble
      rec.check(pairs.nonEmpty && kept < in.docs.size,
        s"near-dup pipeline found ${pairs.length} pairs, kept $kept of ${in.docs.size}")
    }

    val vec = in.vecs.toMap
    def queryFrame(ids: Seq[Long]): DataFrame =
      spark.read.parquet(in.embPath).filter(col("vec_id").isin(ids: _*))
    def probe(kind: String, ids: Seq[Long])(f: DataFrame => DataFrame)
        : Either[Throwable, Map[Long, Seq[(Long, Double)]]] =
      rec.op(kind) {
        t.span("textops.Similarity.topk") {
          val (res, eng) = rec.engineDelta {
            f(queryFrame(ids)).collect().toSeq
              .groupBy(_.getAs[Long]("query_id"))
              .map { case (q, rs) => q -> rs.sortBy(_.getAs[Int]("rank"))
                .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim"))) }
          }
          t.count("textops.Similarity.rows_scored", eng.getOrElse("scan.records", 0.0))
          t.count("textops.Similarity.queries", 1)
          res
        }
      }

    val batches = in.queries.iterator
    (1 to in.exactBatches).foreach { _ =>
      val ids = batches.next()
      val got = probe("topk", ids)(q =>
        Similarity.cosineTopK(spark.read.parquet(in.embPath), q, K))
      got.foreach { res =>
        ids.foreach { q =>
          val want = bruteForce(in.vecs, vec(q), q)
          val have = res.getOrElse(q, Nil)
          val ok = have.size == want.size && have.zip(want).forall {
            case ((hi, hs), (wi, ws)) => math.abs(hs - ws) < 1e-6 &&
              (hi == wi || math.abs(hs - ws) < 1e-9)
          }
          rec.check(ok, s"exact top-$K for query $q differs from brute force")
        }
      }
    }
    def recall(kind: String)(f: DataFrame => DataFrame): Unit = {
      var hit = 0; var total = 0
      (1 to in.annBatches).foreach { _ =>
        val ids = batches.next()
        probe("ann_topk", ids)(f).foreach { res =>
          ids.foreach { q =>
            val want = bruteForce(in.vecs, vec(q), q).map(_._1).toSet
            hit += res.getOrElse(q, Nil).count(n => want(n._1))
            total += want.size
          }
        }
      }
      val r = if (total == 0) 0.0 else hit.toDouble / total
      rec.notes(s"recall_$kind") = r
      rec.check(r >= MinRecall, f"$kind recall@$K $r%.3f below $MinRecall")
    }
    recall("ivf")(q => Similarity.ivfTopKIndexed(in.ivfPath, q, K, in.cents))
  }

  def namedMetrics(rec: Recorder, walls: Seq[Double],
      in: Input): Seq[(String, Double, String, Int)] = {
    def med(k: String) = (Main.median(rec.samples(k)), rec.samples(k).size)
    val (d, dn) = med("dedup")
    val (tk, tn) = med("topk")
    val (ak, an) = med("ann_topk")
    Seq(("dedup_s", d, "s", dn), ("topk_p50_s", tk, "s", tn),
      ("ann_topk_p50_s", ak, "s", an),
      ("index_build_s", in.indexBuildS, "s", 1)) ++
      Seq("recall_ivf").flatMap(k => rec.notes.get(k).map(v =>
        (s"check.$k@$K", v.asInstanceOf[Double], "share", 1))) ++
      rec.notes.get("pairs_below_threshold").map(v =>
        ("check.pairs_below_est_threshold", v.asInstanceOf[Double], "count", 1))
  }
}

object Curation {
  val DocMultiplier = 2
  val ExactBatches = 6
  val AnnBatches = 3
  val BatchSize = 8
  val K = 10
  val Threshold = 0.5
  val Signature = 64
  /** The pipeline keeps pairs whose MinHash ESTIMATE reaches `Threshold`;
    * with `Signature` hash functions the estimate's standard deviation is
    * at most 0.5/sqrt(Signature), so a kept pair's true Jaccard must reach
    * `Threshold` less three of them. Pairs between that floor and the
    * threshold are estimator misses and are counted, not failed. */
  val MinTrueJaccard: Double = Threshold - 3 * 0.5 / math.sqrt(Signature)
  /** ANN recall@K floor; the exact answer is the reference. */
  val MinRecall = 0.5

  private val vocab = IndexedSeq("spark", "table", "query", "row", "column",
    "scan", "join", "filter", "group", "agg", "sort", "hash", "merge", "window",
    "stream", "batch", "data", "key", "value", "vector", "line", "part",
    "order", "customer", "fast", "slow", "big", "small", "the", "a", "index",
    "page", "file", "block", "cache", "shard", "node", "task", "stage", "plan")
  private val langs = IndexedSeq("en", "en", "zh", "es", "fr", "de")

  val docSchema: StructType = StructType.fromDDL(
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
  val embSchema: StructType = StructType.fromDDL(
    "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")

  /** Random documents; one in ten is a near-copy of an earlier one with a
    * word or two replaced. */
  def documents(rnd: Random, n: Int): IndexedSeq[(Long, String)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    (0 until n).foreach { i =>
      val text =
        if (i > 0 && rnd.nextInt(10) == 0) {
          val words = out(rnd.nextInt(out.size))._2.split(' ')
          (1 to 1 + rnd.nextInt(2)).foreach(_ =>
            words(rnd.nextInt(words.length)) = vocab(rnd.nextInt(vocab.size)))
          words.mkString(" ")
        } else Seq.fill(10 + rnd.nextInt(61))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      out += (i.toLong -> text)
    }
    out.toIndexedSeq
  }

  /** Vectors around 10 random label centres. */
  def embeddings(rnd: Random, n: Int): IndexedSeq[(Long, Array[Float])] = {
    val centres = Array.fill(10, 64)(rnd.nextGaussian() * 0.125)
    (0 until n).map { i =>
      val c = centres(i % 10)
      i.toLong -> Array.tabulate(64)(d => (c(d) + rnd.nextGaussian() * 0.06).toFloat)
    }
  }

  def shingles(text: String): Set[String] = {
    val w = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (w.length < 3) Set(w.mkString(" ")) else w.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Exact top-K by cosine, ties broken by id, the query itself excluded. */
  def bruteForce(vecs: IndexedSeq[(Long, Array[Float])], q: Array[Float],
      qid: Long): Seq[(Long, Double)] =
    vecs.iterator.filter(_._1 != qid).map { case (id, v) => (id, cosine(q, v)) }
      .toSeq.sortBy { case (id, s) => (-s, id) }.take(K)
}
