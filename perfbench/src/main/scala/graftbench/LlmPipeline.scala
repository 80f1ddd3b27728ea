package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.llm.{Dedup, Packing, Similarity, Tokenizer}

/** The LLM training-data operators over a seeded synthetic corpus with
  * planted duplicates and a seeded embedding set with planted clusters.
  *
  * Each pass runs the same three operations over the same inputs:
  * normalise → exact dedup → MinHash-LSH near-dup dedup; PQ training and
  * IVF-PQ top-k search of a query batch; BPE tokenise → pack sequences.
  * No graft table is involved, so core, write and read do no work here. */
final class LlmPipeline(ctx: Ctx) extends Workload {
  import LlmPipeline._
  private val spark: SparkSession = ctx.spark
  import spark.implicits._

  val corpus: Corpus = Corpus.generate(ctx.seed, Originals)
  val vectors: Embeddings = Embeddings.generate(ctx.seed, Vectors, Queries, TopK, Dim, Clusters)
  private var docs: DataFrame = _
  private var vecs: DataFrame = _
  private var queries: DataFrame = _
  private var merges: Seq[(String, String)] = Nil
  private var passNo = 0
  private val results = mutable.ArrayBuffer.empty[RoundResult]

  // traced-pass records
  private val stageMs = new Samples

  def setup(): Unit = {
    docs = corpus.docs.toDF("id", "text").repartition(Parts).persist(StorageLevel.MEMORY_ONLY)
    vecs = vectors.corpus.toSeq.toDF("id", "vec").repartition(Parts).persist(StorageLevel.MEMORY_ONLY)
    queries = vectors.queries.toSeq.toDF("id", "vec").persist(StorageLevel.MEMORY_ONLY)
    docs.count(); vecs.count(); queries.count()
    // the rounds time applying a tokenizer, not training one
    merges = Bpe.train(corpus.docs.map(_._2), BpeMerges)
    ctx.mark("inputs cached")
    pass() // warm-up: every operation once, untimed
  }

  /** A round is two passes over the operations, so each operation's
    * median in a run rests on two samples. */
  def round(): Unit = (1 to PassesPerRound).foreach(_ => pass())

  private def stage[T](name: String)(body: => T): T = {
    val (r, ms) = ctx.trace.timed(s"llm.$name")(body)
    if (ctx.trace.active) stageMs.add(name, ms)
    r
  }

  private def pass(): Unit = {
    passNo += 1
    var res = RoundResult()

    ctx.op("dedup") {
      val normalized = stage("normalize") {
        val n = docs.select(col("id"), graft.llm.TextFunctions.normalize(col("text")).as("text"))
          .persist(StorageLevel.MEMORY_ONLY)
        n.count()
        n
      }
      try {
        val exact = stage("exact") {
          Dedup.exact(normalized, "id", "text").select("canonical_id").as[Long].collect()
        }
        val pairs = stage("minhash") {
          val survivors = normalized.join(exact.toSeq.toDF("id"), "id")
          val sigs = Dedup.minhashSignatures(survivors, "id", "text", Shingle, Hashes)
            .persist(StorageLevel.MEMORY_ONLY)
          try Dedup.minhashLshFromSigs(sigs, Hashes, Bands, minEst = 0.0)
            .select("doc_a", "doc_b", "est_jaccard").as[(Long, Long, Double)].collect()
          finally sigs.unpersist(blocking = true)
        }
        res = res.copy(exactGroups = exact.length,
          candidates = pairs.length,
          confirmed = pairs.filter(_._3 >= MinEst).map(p => (p._1, p._2)).toSet)
      } finally normalized.unpersist(blocking = true)
    }

    ctx.op("ann") {
      val cb = stage("pq_train")(Similarity.pqTrain(vecs, "id", "vec", PqM, PqK, PqIters))
      val top = stage("ann_search") {
        Similarity.ivfPqTopK(vecs, queries, "id", "vec", TopK, cb, Cells, NProbe, Rerank)
          .select("q_id", "n_id").as[(Long, Long)].collect()
      }
      res = res.copy(ann = top.groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet })
    }

    ctx.op("pack") {
      val tokens = stage("tokenize") {
        val t = docs.select(col("id"),
            array_join(Tokenizer.bpeEncode(col("text"), merges), " ").as("toks"))
          .persist(StorageLevel.MEMORY_ONLY)
        t.count()
        t
      }
      try stage("pack") {
        val segs = Packing.packSequences(tokens, col("toks"), col("id"), SeqLen)
        val h = xxhash64(col("seg_text"))
        val perSeq = segs.groupBy(col("seq_id")).agg(sum(col("tok_len")).as("n"),
          sum(h.bitwiseAND(lit(0xFFFFFFFFL))).as("lo"), sum(shiftrightunsigned(h, 32)).as("hi"))
        val r = perSeq.agg(count(lit(1)), sum(col("n")), max(col("n")),
          sum(col("lo")), sum(col("hi"))).collect()(0)
        res = res.copy(pack = PackSummary(r.getLong(0), r.getLong(1), r.getLong(2),
          f"${r.getLong(3)}%x.${r.getLong(4)}%x"))
      } finally tokens.unpersist(blocking = true)
    }
    results += res
    if (passNo == 2) ctx.digest = s"${res.exactGroups}:${res.confirmed.size}:${res.pack.checksum}"
  }

  def finish(): Unit = {
    val normalized = corpus.docs.map { case (id, t) => id -> java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFC) }
    val distinct = normalized.map(_._2).distinct.size
    val text = normalized.toMap
    val planted = corpus.nearPairs.filter { case (a, b) => Corpus.jaccard(text(a), text(b), Shingle) >= PlantedMinJaccard }
    val exactTop = vectors.bruteForceTopK(TopK)
    // the tokenizer's own token count, independent of packing
    val tokenTotal = docs.select(sum(size(Tokenizer.bpeEncode(col("text"), merges))).cast("long"))
      .as[Long].collect()(0)
    results.zipWithIndex.foreach { case (r, i) =>
      val tag = s"pass ${i + 1}: "
      ctx.problems ++= (Checks.same("exact dedup groups", r.exactGroups, distinct) ++
        Checks.nearDups(r.confirmed, text, planted, Shingle, ReportedMinJaccard, NearDupRecall) ++
        Checks.ann(exactTop, r.ann, AnnRecall) ++
        Checks.packing(tokenTotal, r.pack, SeqLen)).map(tag + _)
    }
    ctx.check(results.map(_.pack.checksum).distinct.size == 1, "packing output differs between passes")
  }

  def layerMetrics(): Map[String, Double] = {
    import LayerMetrics.medianOr0
    val last = results.last
    Map(
      "llm.normalize_ms" -> medianOr0(stageMs("normalize")),
      "llm.exact_ms" -> medianOr0(stageMs("exact")),
      "llm.minhash_ms" -> medianOr0(stageMs("minhash")),
      "llm.lsh_candidates" -> last.candidates.toDouble,
      "llm.lsh_confirmed" -> last.confirmed.size.toDouble,
      "llm.lsh_useful_ratio" -> last.confirmed.size.toDouble / math.max(1, last.candidates),
      "llm.pq_train_ms" -> medianOr0(stageMs("pq_train")),
      "llm.ann_search_ms" -> medianOr0(stageMs("ann_search")),
      "llm.tokenize_ms" -> medianOr0(stageMs("tokenize")),
      "llm.pack_ms" -> medianOr0(stageMs("pack")),
      "llm.pack_fill" -> last.pack.packedTokens.toDouble / math.max(1L, last.pack.sequences * SeqLen))
  }
}

final case class RoundResult(
    exactGroups: Int = 0,
    candidates: Int = 0,
    confirmed: Set[(Long, Long)] = Set.empty,
    ann: Map[Long, Set[Long]] = Map.empty,
    pack: PackSummary = PackSummary(0, 0, 0, ""))

object LlmPipeline {
  val PassesPerRound = 2
  val Parts = 4
  val Originals = 1500
  val Shingle = 3
  val Hashes = 32
  val Bands = 8
  val MinEst = 0.5
  /** every reported pair must be a true near-duplicate by this margin */
  val ReportedMinJaccard = 0.3
  /** planted pairs this similar must be found ... */
  val PlantedMinJaccard = 0.7
  /** ... at this rate */
  val NearDupRecall = 0.9
  val Vectors = 8000
  val Queries = 64
  val Dim = 32
  val Clusters = 32
  val PqM = 8
  val PqK = 16
  val PqIters = 2
  val Cells = 32
  val NProbe = 8
  val Rerank = 100
  val TopK = 10
  val AnnRecall = 0.9
  val BpeMerges = 12
  val SeqLen = 256
}

/** Byte-pair-encoding merge learning in plain Scala, over word types with
  * graft's end-of-word mark: the most frequent adjacent symbol pair wins,
  * ties going to the smaller pair. */
object Bpe {
  def symbols(word: String): Array[String] =
    word.codePoints().toArray.map(cp => new String(Character.toChars(cp))) :+ Tokenizer.EndMark

  def applyMerge(s: Array[String], a: String, b: String): Array[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == a && s(i + 1) == b) { out += a + b; i += 2 }
      else { out += s(i); i += 1 }
    }
    out.toArray
  }

  def train(texts: Seq[String], merges: Int): Seq[(String, String)] = {
    val counts = mutable.HashMap.empty[String, Long]
    texts.foreach(_.split(" ").foreach(w => if (w.nonEmpty) counts(w) = counts.getOrElse(w, 0L) + 1))
    var types = counts.toSeq.map { case (w, c) => (symbols(w), c) }
    val out = mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (out.size < merges && !done) {
      val pairs = mutable.HashMap.empty[(String, String), Long]
      types.foreach { case (s, c) =>
        (0 until s.length - 1).foreach(i => pairs((s(i), s(i + 1))) = pairs.getOrElse((s(i), s(i + 1)), 0L) + c)
      }
      if (pairs.isEmpty) done = true
      else {
        val top = pairs.values.max
        val (a, b) = pairs.collect { case (p, c) if c == top => p }.minBy { case (x, y) => s"$x $y" }
        out += ((a, b))
        types = types.map { case (s, c) => (applyMerge(s, a, b), c) }
      }
    }
    out.toSeq
  }
}

/** Documents with planted near-duplicates (a few words replaced) and
  * exact duplicates (byte copies, and NFD-decomposed copies that only
  * Unicode normalisation makes equal). */
final case class Corpus(docs: Seq[(Long, String)], nearPairs: Seq[(Long, Long)])

object Corpus {
  def generate(seed: Long, originals: Int): Corpus = {
    val r = new Gen.Rng(seed * 101 + 5)
    val docs = mutable.ArrayBuffer.empty[(Long, String)]
    val near = mutable.ArrayBuffer.empty[(Long, Long)]
    val words = (0 until originals).map { _ =>
      val n = 60 + r.nextInt(80)
      Array.fill(n)(Words.word(r.nextLong()))
    }
    words.zipWithIndex.foreach { case (w, i) => docs += (i.toLong -> w.mkString(" ")) }
    var id = originals.toLong
    words.zipWithIndex.foreach { case (w, i) =>
      val u = r.nextInt(100)
      if (u < 10) { // near-duplicate: replace about one word in forty
        val c = w.clone()
        (0 until math.max(1, c.length / 40)).foreach(_ => c(r.nextInt(c.length)) = Words.word(r.nextLong()))
        docs += (id -> c.mkString(" ")); near += (i.toLong -> id); id += 1
      } else if (u < 14) { // byte-identical copy
        docs += (id -> w.mkString(" ")); id += 1
      } else if (u < 18) { // the same text, decomposed
        docs += (id -> java.text.Normalizer.normalize(w.mkString(" "), java.text.Normalizer.Form.NFD)); id += 1
      }
    }
    Corpus(docs.toSeq, near.toSeq)
  }

  def shingles(text: String, n: Int): Set[String] = {
    val t = text.split(" ", -1)
    if (t.length < n) Set.empty else t.sliding(n).map(_.mkString(" ")).toSet
  }

  /** Exact Jaccard similarity of two texts' word n-gram sets. */
  def jaccard(a: String, b: String, n: Int): Double = {
    val (sa, sb) = (shingles(a, n), shingles(b, n))
    val union = (sa ++ sb).size
    if (union == 0) 0.0 else (sa intersect sb).size.toDouble / union
  }
}

/** Vectors around planted cluster centres, plus a query batch drawn the
  * same way, with a plain-Scala exact top-k to score recall against. */
final case class Embeddings(corpus: Array[(Long, Array[Float])], queries: Array[(Long, Array[Float])]) {
  /** Exact top-k by cosine, ties to the smaller id (the engine's order). */
  def bruteForceTopK(k: Int): Map[Long, Set[Long]] = {
    def norm(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    val cn = corpus.map { case (id, v) => (id, v, norm(v)) }
    queries.map { case (q, qv) =>
      val qn = norm(qv)
      q -> cn.map { case (id, v, n) =>
        var d = 0.0; var i = 0
        while (i < v.length) { d += qv(i).toDouble * v(i); i += 1 }
        (id, d / (qn * n))
      }.sortBy { case (id, c) => (-c, id) }.take(k).map(_._1).toSet
    }.toMap
  }
}

object Embeddings {
  val QueryIdBase = 1000000000L

  /** `n` corpus vectors: `k` planted close neighbours of each of the `q`
    * queries, the rest spread around `clusters` centres; ids shuffled so
    * that neither the planted vectors nor a cluster sit in an id range. */
  def generate(seed: Long, n: Int, q: Int, k: Int, dim: Int, clusters: Int): Embeddings = {
    val r = new Gen.Rng(seed * 7919 + 13)
    val centres = Array.fill(clusters)(Array.fill(dim)(r.gaussian()))
    def around(c: Array[Double], spread: Double) = c.map(x => x + spread * r.gaussian())
    val qs = Array.fill(q)(around(centres(r.nextInt(clusters)), 0.35))
    val planted = qs.flatMap(c => Array.fill(k)(around(c, 0.05)))
    val rest = Array.fill(n - planted.length)(around(centres(r.nextInt(clusters)), 0.35))
    val all = planted ++ rest
    val order = all.indices.toArray
    for (i <- order.indices.reverse) { // Fisher-Yates
      val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    def f(v: Array[Double]) = v.map(_.toFloat)
    Embeddings(
      order.indices.map(i => i.toLong -> f(all(order(i)))).toArray,
      qs.indices.map(i => (QueryIdBase + i) -> f(qs(i))).toArray)
  }

  /** Share of the exact top-k that the approximate answer found. */
  def recall(exact: Map[Long, Set[Long]], approx: Map[Long, Set[Long]]): Double = {
    val hit = exact.toSeq.map { case (q, ns) => (ns intersect approx.getOrElse(q, Set.empty)).size }.sum
    hit.toDouble / math.max(1, exact.values.map(_.size).sum)
  }
}
