package prodbench

/** Plants wrong results and checks that every correctness check
  * rejects them (and accepts the right ones). Exits 0 when all hold.
  */
object SelfTest {
  def run(): Int = {
    val r = Gen.rng(1, 1)
    val pts = (0 until 300).map { i =>
      Pt(i / 3, i.toLong, Array.fill(16)(r.nextDouble().toFloat - 0.5f), Gen.words(r, 12), s"s${i / 3}")
    }
    val qv = Array.fill(16)(r.nextDouble().toFloat - 0.5f)
    val q = pts(40).text.split(" ").take(5).mkString(" ")
    val acc = (0 until 100 by 3).map(_.toLong).toSet
    val ref = Check.search(pts, Some(acc), qv, q, 10)
    def valid(h: Hit) = pts.exists(p => p.docId == h.docId &&
      math.abs(Check.rankedCosine(p.emb, qv) - h.score) <= Check.Tol)
    val outside = pts.map(_.docId).find(d => !acc(d)).get
    val lower = Check.search(pts, Some(acc), qv, q, 40).last
    val cases: Seq[(String, Boolean)] = Seq(
      "reference has k rows" -> (ref.size == 10),
      "identical result passes" -> Check.sameRanking(ref, ref, valid).isEmpty,
      "dropped row fails" -> Check.sameRanking(ref, ref.init, valid).nonEmpty,
      "lower-ranked row at the top fails" -> Check.sameRanking(ref, ref.updated(0, lower), valid).nonEmpty,
      "wrong id at the right score fails" ->
        Check.sameRanking(ref, ref.updated(0, ref.head.copy(docId = outside)), valid).nonEmpty,
      "accessible result passes RLS" -> Check.rls(0, ref, acc).isEmpty,
      "inaccessible row fails RLS" -> Check.rls(0, ref :+ Hit(outside, 0.1, 0), acc).nonEmpty,
      "batch reranker ranks like the inline rerank" ->
        (Check.batchRerank(pts, Some(acc), qv, q, 10).map(_.docId) == ref.map(_.docId)),
      "similar returns k rows without the anchor" -> {
        val sim = Check.similar(pts, None, 7L, 5)
        sim.size == 5 && !sim.exists(_.score >= 1.0)
      },
      "right point counts pass" -> Check.pointCounts(Map(1L -> 2, 2L -> 1), Map(1L -> 2L, 2L -> 1L), Set.empty).isEmpty,
      "wrong point count fails" -> Check.pointCounts(Map(1L -> 2, 2L -> 1), Map(1L -> 3L, 2L -> 1L), Set.empty).nonEmpty,
      "missing file fails" -> Check.pointCounts(Map(1L -> 2, 2L -> 1), Map(1L -> 2L), Set.empty).nonEmpty,
      "counted drop passes" -> Check.pointCounts(Map(1L -> 2, 2L -> 1), Map(1L -> 2L), Set(2L)).isEmpty,
      "unexplained stored doc fails" -> Check.pointCounts(Map(1L -> 2), Map(1L -> 2L, 9L -> 1L), Set.empty).nonEmpty,
      "visible increment passes" -> Check.visibility(5, Seq(Hit(5, 1, 0)), Nil).isEmpty,
      "invisible increment fails" -> Check.visibility(5, Seq(Hit(6, 1, 0)), Nil).nonEmpty,
      "visible deleted doc fails" -> Check.visibility(5, Seq(Hit(5, 1, 0)), Seq(Hit(3, 1, 0))).nonEmpty,
      "round6 is half-up" -> (Check.round6(0.1234565) == 0.123457 && Check.round6(-0.5) == -0.5),
      "same seed, same corpus" -> (fp(42) == fp(42)),
      "new seed, new corpus" -> (fp(42) != fp(43))
    )
    cases.foreach { case (n, ok) => println(s"${if (ok) "ok  " else "FAIL"} $n") }
    if (cases.forall(_._2)) { println("selftest ok"); 0 } else 1
  }

  private def fp(seed: Long): String = {
    val shape = Shapes.all("ingest_mixed")
    Gen.fingerprint(shape.base(seed, "base") ++ shape.increment(seed, "inc", 0), Gen.searches(seed, 7, 32))
  }
}
