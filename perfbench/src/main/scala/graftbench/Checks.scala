package graftbench

/** The output checks, as pure functions so the benchmark's own tests can
  * show each one failing on a corrupted result. Each returns the problems
  * it found; empty means the check passed. */
object Checks {
  /** A table read back from graft against the reference model: same row
    * count, same fingerprint sum, and every row equal to the generator's
    * row for its (key, version). */
  def tableState(what: String, got: ReadSum, model: TableModel): Seq[String] = {
    val (n, sum) = model.checksum
    if (got == ReadSum(n, sum, 0)) Nil
    else Seq(s"$what: read back $got, model has $n rows with sum $sum")
  }

  /** Rows are conserved: base + inserts - deletes. */
  def rowCount(got: Long, base: Long, inserted: Long, deleted: Long): Seq[String] =
    if (got == base + inserted - deleted) Nil
    else Seq(s"row count $got != base $base + inserts $inserted - deletes $deleted")

  def same(what: String, got: Any, expected: Any): Seq[String] =
    if (got == expected) Nil
    else Seq(s"$what: got ${got.toString.take(300)}, model ${expected.toString.take(300)}")

  /** Near-duplicate pairs: every reported pair is verified by its exact
    * Jaccard, and the planted pairs are found at the stated rate. */
  def nearDups(reported: Set[(Long, Long)], text: Map[Long, String], planted: Seq[(Long, Long)],
      shingle: Int, minJaccard: Double, minRecall: Double): Seq[String] = {
    val wrong = reported.filter { case (a, b) => Corpus.jaccard(text(a), text(b), shingle) < minJaccard }
    val found = planted.count(reported).toDouble / math.max(1, planted.size)
    (if (wrong.isEmpty) Nil
     else Seq(s"${wrong.size} reported pairs below exact Jaccard $minJaccard, e.g. ${wrong.take(3)}")) ++
      (if (found >= minRecall) Nil else Seq(s"planted near-dup recall $found < $minRecall"))
  }

  /** ANN answers against the exact top-k: recall at or above the bound. */
  def ann(exact: Map[Long, Set[Long]], approx: Map[Long, Set[Long]], minRecall: Double): Seq[String] = {
    val r = Embeddings.recall(exact, approx)
    lazy val worst = exact.toSeq.map { case (q, ns) => q -> (ns intersect approx.getOrElse(q, Set.empty)).size }
      .sortBy(_._2).take(5).map { case (q, hit) => s"query $q found $hit" }
    if (r >= minRecall) Nil else Seq(s"ANN recall $r < $minRecall (${worst.mkString(", ")})")
  }

  /** Packing conserves the tokenizer's token total, fills every sequence
    * but the last, and keeps each sequence within the maximum length. */
  def packing(tokenTotal: Long, p: PackSummary, seqLen: Int): Seq[String] =
    Seq(
      (p.packedTokens == tokenTotal) -> s"packed ${p.packedTokens} tokens, tokenizer gave $tokenTotal",
      (p.maxSeqTokens <= seqLen) -> s"a sequence holds ${p.maxSeqTokens} > $seqLen tokens",
      (p.sequences == (tokenTotal + seqLen - 1) / seqLen) ->
        s"${p.sequences} sequences for $tokenTotal tokens of $seqLen"
    ).collect { case (false, msg) => msg }
}

/** What one packing pass produced: sequence count, tokens placed, the
  * fullest sequence, and an order-independent checksum of the segments. */
final case class PackSummary(sequences: Long, packedTokens: Long, maxSeqTokens: Long, checksum: String)
