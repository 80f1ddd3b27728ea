package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's output checks: each passes on a correct result for two
  * seeds and fails on a result with one deliberate corruption. */
class ChecksSpec extends AnyFunSuite {

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    val dot = a.indices.map(i => a(i).toDouble * b(i)).sum
    dot / math.sqrt(a.map(x => x.toDouble * x).sum * b.map(x => x.toDouble * x).sum)
  }

  /** Concat-and-chunk done by hand: tokens per sequence. */
  private def chunk(docTokens: Seq[Long], seqLen: Int): Seq[Long] = {
    val total = docTokens.sum
    (0L until (total + seqLen - 1) / seqLen).map(s => math.min(seqLen.toLong, total - s * seqLen))
  }

  private def summary(perSeq: Seq[Long]): PackSummary =
    PackSummary(perSeq.size.toLong, perSeq.sum, if (perSeq.isEmpty) 0L else perSeq.max, "")

  for (seed <- Seq(1L, 2L)) {
    test(s"table model: a correct read-back passes, a changed row or a dropped key fails (seed $seed)") {
      val gen = LineGen(seed, 1000)
      val model = new TableModel(gen.fingerprint)
      (0L until 1000L).foreach(model.put(_, 0L))
      val r = new Gen.Rng(seed)
      (1 to 300).foreach(v => model.put(r.nextInt(1200).toLong, v.toLong)) // updates and inserts
      (1 to 100).foreach(_ => model.remove(r.nextInt(1200).toLong))
      // the running checksum equals one recomputed from scratch
      assert(model.sum == model.versions.toSeq.map { case (k, v) => gen.fingerprint(k, v) }.sum)

      val rows = model.versions.toSeq.map { case (k, v) => gen.row(k, v) }
      assert(Checks.tableState("read-back", ReadSum.of(rows.iterator, gen), model).isEmpty)
      val changed = rows.updated(5, rows(5).copy(l_price_c = rows(5).l_price_c + 1))
      assert(Checks.tableState("read-back", ReadSum.of(changed.iterator, gen), model).nonEmpty)
      val dropped = rows.tail
      assert(Checks.tableState("read-back", ReadSum.of(dropped.iterator, gen), model).nonEmpty)
      val stale = rows.updated(7, gen.row(rows(7).l_key, rows(7).l_ver + 1))
      assert(Checks.tableState("read-back", ReadSum.of(stale.iterator, gen), model).nonEmpty)
    }

    test(s"brute-force top-k equals a full sort; a swapped neighbour fails the check (seed $seed)") {
      val e = Embeddings.generate(seed, n = 1500, q = 6, k = 10, dim = 16, clusters = 8)
      val exact = e.bruteForceTopK(10)
      val bySort = e.queries.map { case (q, qv) =>
        q -> e.corpus.sortBy { case (id, v) => (-cosine(qv, v), id) }.take(10).map(_._1).toSet
      }.toMap
      assert(exact == bySort)
      assert(Checks.ann(exact, exact, 1.0).isEmpty)
      val (q, ns) = exact.head
      val outsider = e.corpus.map(_._1).find(id => !ns(id)).get
      val swapped = exact.updated(q, ns - ns.head + outsider)
      assert(Embeddings.recall(exact, swapped) == 1.0 - 1.0 / 60)
      assert(Checks.ann(exact, swapped, 1.0).nonEmpty)
    }

    test(s"exact Jaccard verifies near-dup pairs; a dropped or false pair fails (seed $seed)") {
      assert(Corpus.jaccard("a b c d", "a b c e", 3) == 1.0 / 3)
      assert(Corpus.jaccard("a b c d", "a b c d", 3) == 1.0)
      assert(Corpus.jaccard("a b", "a b", 3) == 0.0) // too short to shingle
      val c = Corpus.generate(seed, 300)
      val text = c.docs.toMap
      val planted = c.nearPairs.filter { case (a, b) => Corpus.jaccard(text(a), text(b), 3) >= 0.7 }
      assert(planted.size > 10)
      val reported = planted.toSet
      assert(Checks.nearDups(reported, text, planted, 3, 0.3, 1.0).isEmpty)
      assert(Checks.nearDups(reported - planted.head, text, planted, 3, 0.3, 1.0).nonEmpty)
      val unrelated = (0L, 1L)
      assert(Corpus.jaccard(text(0L), text(1L), 3) < 0.3)
      assert(Checks.nearDups(reported + unrelated, text, planted, 3, 0.3, 1.0).nonEmpty)
    }

    test(s"packing conserves tokens within the length; a lost or overflowing token fails (seed $seed)") {
      val r = new Gen.Rng(seed)
      val docs = Seq.fill(200)((1 + r.nextInt(700)).toLong)
      val total = docs.sum
      val seqLen = 256
      val perSeq = chunk(docs, seqLen)
      assert(perSeq.sum == total)
      assert(Checks.packing(total, summary(perSeq), seqLen).isEmpty)
      val lost = perSeq.updated(3, perSeq(3) - 1)
      assert(Checks.packing(total, summary(lost), seqLen).nonEmpty)
      val overflow = perSeq.updated(3, perSeq(3) + 1).updated(4, perSeq(4) - 1)
      assert(Checks.packing(total, summary(overflow), seqLen).nonEmpty)
    }
  }

  test("BPE merges are learned greedily, most frequent pair first") {
    val merges = Bpe.train(Seq("ab ab ab cd", "ab cd"), 2)
    assert(merges == Seq(("a", "b"), ("ab", "</w>")))
    assert(Bpe.applyMerge(Array("a", "b", "a", "b"), "a", "b").toSeq == Seq("ab", "ab"))
  }

  test("quantiles and tails follow the stated rules") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.5) == 2.5)
    assert(Stats.tail(Seq.fill(39)(1.0)).isEmpty)
    assert(Stats.tail(Seq.fill(100)(1.0)).map(_._1).contains(90))
  }

  test("self time subtracts the union of child intervals") {
    assert(Trace.unionLength(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0)), 0.0, 10.0) == 4.0)
    assert(Trace.unionLength(Seq((-5.0, 2.0)), 0.0, 10.0) == 2.0)
    assert(Trace.unionLength(Nil, 0.0, 10.0) == 0.0)
  }
}
