package graft.perfbench

import java.util.SplittableRandom

/** One query of the mix. `kind` is plain, and, page2 or marker. */
final case class Query(kind: String, terms: Seq[String], minMatch: Int)

/** The query mix, one seeded stream per client.
  *
  *  - 65% plain match, 20% minMatch = number of terms (ES operator=and),
  *    10% an `after`-cursor page 2 issued after its page 1, 5% marker lookups;
  *  - 1–4 distinct terms, each from the head (ranks ≤ 100) 30% of the time,
  *    the torso (101–10^4) 50% and the tail (> 10^4) 20%.
  *
  * `markedConv` picks the conversation a marker lookup targets; the caller
  * passes the conversations that are committed when the query is drawn.
  */
final class QueryStream(seed: Long, client: Int) {
  private val rng = new SplittableRandom(Gen.mix(seed ^ 0x5EA5C4L, client.toLong))

  private def rank(): Int = {
    val u = rng.nextDouble()
    if (u < 0.3) 1 + rng.nextInt(100)
    else if (u < 0.8) 101 + rng.nextInt(10000 - 100)
    else 10001 + rng.nextInt(Gen.VocabSize - 10000)
  }

  def next(markedConv: SplittableRandom => Long): Query = {
    val u = rng.nextDouble()
    if (u >= 0.95) return Query("marker", Seq(Gen.marker(markedConv(rng))), 2)
    val n = 1 + rng.nextInt(4)
    val terms = Seq.fill(n)(Gen.term(rank())).distinct.sorted
    if (u < 0.65) Query("plain", terms, 1)
    else if (u < 0.85) Query("and", terms, terms.size)
    else Query("page2", terms, 1)
  }
}
