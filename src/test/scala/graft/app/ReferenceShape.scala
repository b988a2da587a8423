package graft.app

import java.util.Locale

/** A generated transcript shaped like the reference repository's
  * `transcript-example.json` recording: 4,778 segments of one
  * speaker from 0.0 to 26,561.26 s, with a text volume that packs into 23
  * chunks at the default 4,000-token budget.
  *
  * Segment timing, each segment's word lengths and its sentence breaks
  * come from a fixed structural stream; the seed only chooses among words
  * of equal length. Token counts, and with them the chunk boundaries, are
  * the same on every seed.
  */
object ReferenceShape {

  val Segments = 4778
  val Seconds = 26561.26
  val Speaker = "SPEAKER_00"
  val Chunks = 23

  private val StructureSeed = 1L

  /** Two words of each length 2..9, so a word can always differ from its
    * predecessor without changing length (the cleaner drops an
    * immediately repeated word). */
  private val Vocab: Array[Array[String]] = Array(
    Array("it", "we"), Array("and", "the"), Array("time", "work"),
    Array("about", "think"), Array("people", "really"), Array("because", "problem"),
    Array("question", "remember"), Array("something", "important"))

  private def fmt(x: Double): String = String.format(Locale.ROOT, "%.2f", Double.box(x))

  /** One segment's text: 3-14 words, a sentence break every 5-12 words
    * and at the end, one terminator in six a question mark. */
  private def text(structure: java.util.Random, words: java.util.Random, prev: Array[String]): String = {
    val n = 3 + structure.nextInt(12)
    val lens = Array.fill(n)(2 + structure.nextInt(Vocab.length))
    val ends = scala.collection.mutable.Set(n - 1)
    var e = 4 + structure.nextInt(8)
    while (e < n - 1) { ends += e; e += 5 + structure.nextInt(8) }
    val terminal = Array.fill(n)(if (structure.nextInt(6) == 0) '?' else '.')
    val b = new StringBuilder
    var capitalize = true
    for (i <- 0 until n) {
      val pool = Vocab(lens(i) - 2)
      var w = pool(words.nextInt(pool.length))
      if (w == prev(0)) w = pool((pool.indexOf(w) + 1) % pool.length)
      prev(0) = w
      if (i > 0) b.append(' ')
      b.append(if (capitalize) w.capitalize else w)
      capitalize = ends(i)
      if (capitalize) {
        b.append(terminal(i))
        prev(0) = "" // punctuation separates a repeat
      }
    }
    b.toString
  }

  /** The transcript for `seed`, as contract JSON. Times are cumulative
    * 2-9 s durations scaled to [[Seconds]] and rounded to centiseconds;
    * consecutive segments touch. */
  def json(seed: Long): String = {
    val structure = new java.util.Random(StructureSeed)
    val words = new java.util.Random(seed)
    val durations = Array.fill(Segments)(2.0 + 7.0 * structure.nextDouble())
    val scale = Seconds / durations.sum
    var acc = 0.0
    val prev = Array("")
    durations.map { d =>
      val start = math.round(acc * 100) / 100.0
      acc += d * scale
      val end = math.round(acc * 100) / 100.0
      s"""{"start": ${fmt(start)}, "end": ${fmt(end)}, "text": "${text(structure, words, prev)}", "speaker": "$Speaker"}"""
    }.mkString("{\"segments\": [\n", ",\n", "\n]}\n")
  }
}
