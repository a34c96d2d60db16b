package c4bench

import scala.collection.mutable

/** Seeded arrival batches for the streaming ingest workload.
  *
  * Each arrival is one of three kinds, drawn from the seed:
  *  - a case-changed, re-spaced copy of a history document (a duplicate
  *    under the library's content fingerprint: lower-cased, trimmed,
  *    whitespace runs collapsed);
  *  - a repeat of a fresh arrival from an earlier batch (a duplicate of
  *    what the sink has appended to the history since);
  *  - a fresh text that normalizes to nothing seen before.
  * Normalized texts are distinct within a batch, so the fresh ids of every
  * batch are known by construction: exactly the arrivals of the third kind.
  */
final class Arrivals(historyTexts: Seq[String], seed: Long, perBatch: Int) {
  import Arrivals._

  private val rng = new java.util.SplittableRandom(seed)
  private val seen = mutable.HashSet.from(historyTexts.map(normalize))
  private val history = historyTexts.toIndexedSeq
  private val earlierFresh = mutable.ArrayBuffer.empty[String]
  private var nextId = FirstId

  /** The next batch: its rows and the ids that are fresh by construction. */
  def next(): Batch = {
    val inBatch = mutable.HashSet.empty[String]
    val fresh = Set.newBuilder[Long]
    val freshTexts = mutable.ArrayBuffer.empty[String]
    val rows = Vector.fill(perBatch) {
      val id = nextId
      nextId += 1
      val kind = rng.nextInt(10)
      val copy =
        if (kind < 4) Some(recase(history(rng.nextInt(history.size))))
        else if (kind < 6 && earlierFresh.nonEmpty)
          Some(recase(earlierFresh(rng.nextInt(earlierFresh.size))))
        else None
      val text = copy.filter(t => inBatch.add(normalize(t))).getOrElse {
        var t = randomText(rng)
        while (seen.contains(normalize(t))) t = randomText(rng)
        seen += normalize(t)
        inBatch += normalize(t)
        fresh += id
        freshTexts += t
        t
      }
      (id, text)
    }
    earlierFresh ++= freshTexts
    Batch(rows, fresh.result())
  }

  /** Upper-cases a seeded subset of the words and doubles one space. */
  private def recase(text: String): String = {
    val words = text.split(" ")
    val cased = words.map(w => if (rng.nextInt(3) == 0) w.toUpperCase else w)
    val gap = rng.nextInt(words.length)
    cased.zipWithIndex.map { case (w, i) => if (i == gap) w + " " else w }
      .mkString(" ")
  }
}

object Arrivals {
  /** Arrival ids start here, above every generated history id. */
  val FirstId = 1000000000L

  final case class Batch(rows: Vector[(Long, String)], fresh: Set[Long])

  /** The vocabulary of the generated documents corpus. */
  val Words: IndexedSeq[String] = ("spark window merge table column vector stream value " +
    "data small join filter big group hash customer sort order slow line part fast " +
    "row the agg key query a scan batch").split(" ").toIndexedSeq

  /** The library's fingerprint normal form: lower-cased, trimmed,
    * whitespace runs collapsed to one space. */
  def normalize(text: String): String =
    text.trim.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")

  /** 10 to 99 words drawn from [[Words]]. */
  def randomText(rng: java.util.SplittableRandom): String =
    Seq.fill(10 + rng.nextInt(90))(Words(rng.nextInt(Words.size))).mkString(" ")
}
