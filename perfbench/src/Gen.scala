package graft.perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import graft.model.Turn

/** Seeded transcript generator (the FIXTURES.md §T turn shape) with a
  * Zipf(1.07) vocabulary over 10^5 ranks, so posting lists run from almost
  * every turn (head terms) down to a handful of turns (tail terms).
  *
  * Every conversation is a pure function of (seed, conv): partition order
  * never changes content, and two workloads that use disjoint conv ranges
  * ("seed regions") never share a conversation id.
  */
object Gen {

  val VocabSize = 100000
  val ZipfS = 1.07
  val TurnsPerConv = 200
  val MarkEvery = 50
  val Tools = Array("Bash", "Read", "Write", "Grep", "Edit")
  private val baseTs = java.time.Instant.parse("2026-01-01T00:00:00Z").toEpochMilli

  // cumulative Zipf(s) over ranks 1..VocabSize
  private lazy val zipfCum: Array[Double] = {
    val cum = new Array[Double](VocabSize)
    var acc = 0.0
    var r = 0
    while (r < VocabSize) { acc += 1.0 / math.pow(r + 1, ZipfS); cum(r) = acc; r += 1 }
    r = 0
    while (r < VocabSize) { cum(r) /= acc; r += 1 }
    cum(VocabSize - 1) = 1.0
    cum
  }

  /** Rank (1-based) of one Zipf draw. */
  def zipfRank(rng: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(zipfCum, rng.nextDouble())
    (if (i >= 0) i else -i - 1) + 1
  }

  def term(rank: Int): String = f"w$rank%06d"
  def convId(conv: Long): String = f"c$conv%08d"
  /** The marker token of a conversation; the analyzer splits it into the
    * conversation id and "mark", so an AND of both finds its marked turns.
    */
  def marker(conv: Long): String = s"${convId(conv)}-mark"
  def isMarked(turnIdx: Int): Boolean = turnIdx % MarkEvery == 0

  /** 64-bit mix of (seed, stream) — SplitMix64's finalizer. */
  def mix(seed: Long, stream: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream + 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** One conversation's turns; a pure function of (seed, conv). */
  def conversation(seed: Long, conv: Long): Seq[Turn] = {
    val rng = new SplittableRandom(mix(seed, conv))
    val cid = convId(conv)
    (0 until TurnsPerConv).map { ti =>
      val toolTurn = ti % 7 == 6
      val role =
        if (ti == 0) "system"
        else if (toolTurn) "assistant"
        else if (ti % 2 == 1) "user"
        else "assistant"
      val tool = if (toolTurn) Tools(rng.nextInt(Tools.length)) else ""
      val nTokens = 10 + rng.nextInt(90)
      val words = new StringBuilder(nTokens * 8)
      var w = 0
      while (w < nTokens) {
        if (w > 0) words.append(' ')
        words.append(term(zipfRank(rng)))
        w += 1
      }
      if (isMarked(ti)) words.append(' ').append(marker(conv))
      Turn(cid, ti, role, words.toString, tool,
        new Timestamp(baseTs + (conv * TurnsPerConv + ti) * 13000L))
    }
  }

  def conversations(seed: Long, convs: Range): Seq[Turn] =
    convs.flatMap(c => conversation(seed, c.toLong))
}
