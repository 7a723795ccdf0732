package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** What the generator planted in a corpus: the expected
  * `p1_preprocess_pipeline` rows (source → (docs, tokens)), the
  * near-duplicate and exact-duplicate pairs `d4_neardup_clusters` must
  * put in one cluster, every doc id that belongs to any planted pair
  * (all other docs are pairwise far apart), and for each `a3_ann_ivf`
  * query vector the id of its planted near twin. */
final case class CorpusPlan(p1: Map[String, (Long, Long)],
    pairs: Vector[(Long, Long)], clustered: Set[Long],
    twins: Map[Long, Long], uniqueTrain: Long, digest: String)

final case class Doc(doc_id: Long, text: String, lang: String, source: String,
    n_chars: Long)
final case class Emb(vec_id: Long, embedding: Array[Float], label: Int)

/** Seeded `documents` / `embeddings` corpus with the FIXTURES.md §1
  * schemas. Random documents draw 40–70 tokens from a 20k-word
  * vocabulary, so two of them never share an 8-gram or reach Jaccard
  * 0.8; on top of that the generator plants short and repetitive docs
  * (p1's quality gates), exact duplicates (p1's dedup), training docs
  * that quote an 8-gram of a `src1` eval doc (p1's decontamination),
  * near-duplicate pairs differing in their last token (d4), and a near
  * twin of each of the ten a3 query vectors. */
object CorpusGen {
  val Dim = 64
  val Queries = 10

  def generate(seed: Long, nDocs: Int, nVecs: Int): (Vector[Doc], Vector[Emb], CorpusPlan) = {
    val rng = new Random(seed)
    val vocab = Vector.fill(20000)(
      Iterator.fill(3 + rng.nextInt(6))(('a' + rng.nextInt(26)).toChar).mkString)
    def words(n: Int): Array[String] = Array.fill(n)(vocab(rng.nextInt(vocab.length)))
    val langs = Vector("en", "fr", "es", "zh", "de")
    val texts = new Array[String](nDocs)
    val sources = Array.fill(nDocs)(s"src${rng.nextInt(20)}")
    val pairs = ArrayBuffer.empty[(Long, Long)]
    // every doc starts random; plants then overwrite disjoint id ranges
    (0 until nDocs).foreach(i => texts(i) = words(40 + rng.nextInt(31)).mkString(" "))
    val ids = rng.shuffle((0 until nDocs).toVector)
    val share = nDocs / 100
    val (shortIds, r1) = ids.splitAt(share * 2)
    val (repIds, r2) = r1.splitAt(share * 2)
    val (dupIds, r3) = r2.splitAt(share * 4)
    val (nearIds, r4) = r3.splitAt(share * 4)
    val contIds = r4.take(share * 2)
    // planted docs are training docs: a src1 copy would sit in the eval
    // slice and flag its own duplicates as contaminated
    (shortIds ++ repIds ++ dupIds ++ nearIds ++ contIds).foreach { i =>
      if (sources(i) == "src1") sources(i) = "src0"
    }
    shortIds.foreach(i => texts(i) = words(5 + rng.nextInt(18)).mkString(" "))
    repIds.foreach { i =>
      val few = words(5)
      texts(i) = Array.fill(40)(few(rng.nextInt(5))).mkString(" ")
    }
    // exact duplicates: groups of 2–4 ids sharing one text
    dupIds.grouped(4).foreach { g =>
      val n = 2 + rng.nextInt(3)
      g.take(n).tail.foreach { j =>
        texts(j) = texts(g.head); pairs += ((g.head.toLong min j, g.head.toLong max j))
      }
    }
    // near duplicates: the last token replaced (3-shingle Jaccard ≥ 0.95)
    nearIds.grouped(2).foreach {
      case Seq(a, b) =>
        val toks = texts(a).split(' ')
        var w = vocab(rng.nextInt(vocab.length))
        while (w == toks.last) w = vocab(rng.nextInt(vocab.length))
        texts(b) = (toks.init :+ w).mkString(" ")
        pairs += ((a.toLong min b, a.toLong max b))
      case _ =>
    }
    // contamination: a training doc quotes 8 consecutive tokens of an
    // eval (src1) doc drawn from the untouched random docs
    val evalDocs = r4.drop(share * 2).filter(i => sources(i) == "src1")
    contIds.foreach { i =>
      val e = texts(evalDocs(rng.nextInt(evalDocs.length))).split(' ')
      val at = rng.nextInt(e.length - 8)
      val own = texts(i).split(' ')
      texts(i) = (own.take(20) ++ e.slice(at, at + 8) ++ own.drop(20)).mkString(" ")
    }
    val docs = Vector.tabulate(nDocs)(i => Doc(i.toLong, texts(i),
      langs(rng.nextInt(langs.length)), sources(i), texts(i).length.toLong))

    val vecs = Array.fill(nVecs)(Array.fill(Dim)(rng.nextGaussian().toFloat))
    val twinIds = rng.shuffle((Queries until nVecs).toVector).take(Queries)
    val twins = (0 until Queries).map { q =>
      val t = twinIds(q)
      vecs(t) = vecs(q).map(x => x + 0.01f * rng.nextGaussian().toFloat)
      q.toLong -> t.toLong
    }.toMap
    val embs = Vector.tabulate(nVecs)(i => Emb(i.toLong, vecs(i), rng.nextInt(10)))

    val (p1, unique) = expectP1(docs, contIds.map(_.toLong).toSet)
    val clustered = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    (docs, embs, CorpusPlan(p1, pairs.toVector, clustered, twins, unique,
      digest(docs, embs)))
  }

  /** p1's semantics over the planted corpus: quality gates, keep-first
    * exact dedup, decontamination (the planted quoting docs), the
    * per-source mix rates, then docs and tokens per source. */
  private def expectP1(docs: Vector[Doc], contaminated: Set[Long])
      : (Map[String, (Long, Long)], Long) = {
    val gated = docs.filter { d =>
      val toks = d.text.split(" ", -1)
      d.source != "src1" && toks.length >= 24 && toks.distinct.length * 10 >= toks.length * 3
    }
    val firstPerText = gated.groupBy(_.text).values.map(_.minBy(_.doc_id))
    val rate = (s: String) => s.stripPrefix("src").toInt match {
      case n if n <= 5 => 25
      case n if n <= 11 => 50
      case _ => 100
    }
    val kept = firstPerText
      .filterNot(d => contaminated(d.doc_id))
      .filter(d => d.doc_id % 100 < rate(d.source))
    val out = kept.groupBy(_.source).map { case (s, ds) =>
      s -> (ds.size.toLong, ds.map(_.text.split(" ", -1).length.toLong).sum)
    }
    (out, firstPerText.size.toLong)
  }

  private def digest(docs: Seq[Doc], embs: Seq[Emb]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    docs.foreach(d => md.update(s"${d.doc_id}\t${d.text}\t${d.lang}\t${d.source}\n".getBytes("UTF-8")))
    embs.foreach { e =>
      md.update(s"${e.vec_id}\t${e.label}\t".getBytes("UTF-8"))
      e.embedding.foreach(f => md.update(java.nio.ByteBuffer.allocate(4).putFloat(f).array()))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Writes `documents.parquet` and `embeddings.parquet` under `dir`. */
  def write(spark: SparkSession, dir: String, docs: Seq[Doc], embs: Seq[Emb]): Unit = {
    import spark.implicits._
    docs.toDS().write.mode("overwrite").parquet(s"$dir/documents.parquet")
    embs.toDS().write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}
