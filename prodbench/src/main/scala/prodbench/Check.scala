package prodbench

import graft.pipeline.{LexicalOverlapReranker, PairwiseBatchReranker}

/** One stored point as the checks see it. */
final case class Pt(docId: Long, chunkKey: Long, emb: Array[Float], text: String, source: String)

/** One returned row: document id (the RLS key), dense score, and the
  * rerank score (0 where the search has none).
  */
final case class Hit(docId: Long, score: Double, rerank: Double)

/** Brute-force driver-side references and the comparisons that feed
  * `failed`. Every check returns None when it passes and a message
  * when it fails; none of them runs inside a timed region.
  */
object Check {
  val Tol = 1e-6

  /** Spark's `round(x, 6)` (HALF_UP on the decimal expansion). */
  def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The engine's cosine as a ranking score: double accumulation over
    * float components, rounded to 6 places, NaN pinned to -2.
    */
  def rankedCosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val c = round6(dot / (math.sqrt(na) * math.sqrt(nb)))
    if (c.isNaN) -2.0 else c
  }

  /** Word-set Jaccard over lower-cased, space-trimmed, whitespace-split
    * tokens; 0 when both sides are empty.
    */
  def jaccard(a: String, b: String): Double = {
    def toks(s: String) = s.toLowerCase.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      .split("\\s+").filter(_.nonEmpty).toSet
    val ta = toks(a); val tb = toks(b)
    val u = (ta | tb).size
    if (u == 0) 0.0 else (ta & tb).size.toDouble / u
  }

  private def dense(pts: Seq[Pt], qv: Array[Float], n: Int): Seq[(Pt, Double)] =
    pts.map(p => (p, rankedCosine(p.emb, qv)))
      .sortBy { case (p, s) => (-s, p.docId) }.take(n)

  /** search / searchByDocument: RLS (None = admin) → dense top-k·5 →
    * rounded Jaccard rerank → top-k.
    */
  def search(pts: Seq[Pt], acc: Option[Set[Long]], qv: Array[Float], qText: String,
             k: Int, overFetch: Int = 5, source: Option[String] = None): Seq[Hit] = {
    val visible = pts.filter(p => acc.forall(_(p.docId)) && source.forall(_ == p.source))
    dense(visible, qv, k * overFetch)
      .map { case (p, s) => (p, s, round6(jaccard(qText, p.text))) }
      .sortBy { case (p, s, r) => (-r, -s, p.docId) }.take(k)
      .map { case (p, s, r) => Hit(p.docId, s, r) }
  }

  /** searchWithBatchReranker with the lexical pairwise reranker. */
  def batchRerank(pts: Seq[Pt], acc: Option[Set[Long]], qv: Array[Float], qText: String,
                  k: Int, overFetch: Int = 5): Seq[Hit] = {
    val cands = dense(pts.filter(p => acc.forall(_(p.docId))), qv, k * overFetch)
    new PairwiseBatchReranker(new LexicalOverlapReranker)
      .rerank(qText, cands.map(_._1.text), k)
      .map { case (i, r) => Hit(cands(i)._1.docId, cands(i)._2, r) }
  }

  /** findSimilarChunks over the caller's visible points: anchor by
    * chunk key, top k+1 by (score, chunk key), self skipped, top k.
    */
  def similar(pts: Seq[Pt], acc: Option[Set[Long]], anchor: Long, k: Int): Seq[Hit] = {
    val visible = pts.filter(p => acc.forall(_(p.docId)))
    visible.find(_.chunkKey == anchor).toSeq.flatMap { a =>
      visible.map(p => (p, rankedCosine(p.emb, a.emb)))
        .sortBy { case (p, s) => (-s, p.chunkKey) }.take(k + 1)
        .filter(_._1.chunkKey != anchor).take(k)
        .map { case (p, s) => Hit(p.docId, s, 0.0) }
    }
  }

  /** Ranked results agree: same length, the same score pair at every
    * rank, and the same document ids within every group of tied scores.
    * The last tie group may be cut at a different member, so there the
    * returned ids need only be real points with that score.
    */
  def sameRanking(ref: Seq[Hit], act: Seq[Hit], valid: Hit => Boolean): Option[String] = {
    def key(h: Hit) = (math.rint(h.score / Tol).toLong, math.rint(h.rerank / Tol).toLong)
    if (ref.size != act.size) return Some(s"expected ${ref.size} rows, got ${act.size}")
    ref.zip(act).zipWithIndex.collectFirst {
      case ((r, a), i) if key(r) != key(a) =>
        s"rank $i: expected score (${r.score}, ${r.rerank}), got (${a.score}, ${a.rerank})"
    }.orElse {
      val lastKey = ref.lastOption.map(key)
      val refGroups = ref.groupBy(key).map { case (g, hs) => g -> hs.map(_.docId).sorted }
      act.groupBy(key).collectFirst {
        case (g, hs) if !lastKey.contains(g) && hs.map(_.docId).sorted != refGroups(g) =>
          s"ids ${hs.map(_.docId).sorted.mkString(",")} where ${refGroups(g).mkString(",")} expected"
        case (g, hs) if lastKey.contains(g) && !hs.forall(valid) =>
          s"tied rows ${hs.map(_.docId).mkString(",")} are not stored points with that score"
      }
    }
  }

  /** No returned row may fall outside the caller's accessible set. */
  def rls(user: Int, hits: Seq[Hit], canRead: Long => Boolean): Option[String] =
    hits.find(h => !canRead(h.docId)).map(h => s"user $user saw inaccessible doc ${h.docId}")

  /** Every generated file ends as landed points or a counted drop, and
    * its point count equals the driver-side chunk recount.
    */
  def pointCounts(expected: Map[Long, Int], stored: Map[Long, Long], dropped: Set[Long]): Option[String] = {
    val missing = expected.keySet -- stored.keySet -- dropped
    val extra = stored.keySet -- expected.keySet
    val wrong = expected.collect { case (d, n) if stored.get(d).exists(_ != n) => (d, n, stored(d)) }
    if (missing.nonEmpty) Some(s"${missing.size} files neither stored nor counted as dropped")
    else if (extra.nonEmpty) Some(s"${extra.size} stored docs that no live file explains")
    else wrong.headOption.map { case (d, n, s) =>
      s"doc $d: $s points stored, recount gives $n (${wrong.size} files differ)"
    }
  }

  /** Post-commit visibility: the new file's points are returned, no
    * deleted doc is.
    */
  def visibility(newDoc: Long, probe: Seq[Hit], deletedProbe: Seq[Hit]): Option[String] =
    if (!probe.exists(_.docId == newDoc)) Some(s"committed doc $newDoc not returned by search")
    else deletedProbe.headOption.map(h => s"deleted doc ${h.docId} still returned by search")
}
