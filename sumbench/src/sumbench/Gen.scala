package sumbench

import java.util.Locale

/** Seeded transcript generator. The program under test only ever sees the
  * JSON files written from these strings (`{"segments":[{start,end,text,
  * speaker}]}`, the transcript input contract).
  *
  * Two modes:
  *   - [[reference]]: one transcript shaped like the reference recording —
  *     4,778 segments, one speaker, 0.0 to 26,561.26 s — with a text volume
  *     that packs into 23 chunks at the default 4,000-token budget.
  *   - [[corpus]]: short multi-speaker transcripts (2-6 speakers, 100-400
  *     segments), the per-call-overhead shape.
  *
  * The seed picks the words; everything the pipeline's cost depends on
  * is fixed per mode, so that runs on different seeds are comparable.
  * Segment timing, speaker turns, each segment's word lengths and its
  * sentence breaks come from a fixed structural stream, and the seed only
  * chooses among words of equal length. Token counts, and with them the
  * chunk boundaries and the LLM call count, are the same on every seed.
  */
object Gen {

  val RefSegments = 4778
  val RefSeconds = 26561.26
  val RefSpeaker = "SPEAKER_00"

  val CorpusSize = 12
  val CorpusMinSegments = 100
  val CorpusMaxSegments = 400
  val CorpusMinSpeakers = 2
  val CorpusMaxSpeakers = 6

  /** Structural streams. The reference one is chosen so that the default
    * chunk budget packs the transcript into 23 chunks. */
  private val RefStructureSeed = 1L
  private val CorpusStructureSeed = 2L

  /** Words grouped by length (2..9 letters), at least two per length so a
    * word can always differ from its predecessor without changing length
    * (the program's cleaner drops an immediately repeated word). */
  private val Vocab: Array[Array[String]] = Array(
    Array("an", "as", "at", "be", "by", "do", "go", "if", "in", "is", "it",
      "me", "my", "no", "of", "on", "or", "so", "to", "up", "us", "we"),
    Array("and", "are", "but", "can", "day", "for", "get", "had", "has", "her",
      "him", "how", "let", "new", "not", "now", "one", "our", "out", "see",
      "the", "two", "way", "who", "why", "yes", "you"),
    Array("also", "back", "been", "come", "does", "even", "from", "good",
      "have", "here", "just", "know", "like", "look", "make", "more", "much",
      "only", "over", "part", "said", "some", "take", "than", "that", "them",
      "then", "they", "this", "time", "very", "want", "well", "what", "when",
      "will", "with", "work", "year"),
    Array("about", "after", "again", "being", "could", "every", "first",
      "great", "group", "house", "maybe", "money", "never", "other", "place",
      "point", "right", "small", "start", "still", "story", "thing", "think",
      "three", "today", "under", "water", "where", "which", "while", "world",
      "would", "years"),
    Array("always", "around", "before", "better", "change", "coming", "during",
      "family", "friend", "really", "number", "people", "person", "pretty",
      "public", "rather", "reason", "should", "simple", "almost", "system",
      "things", "though", "toward"),
    Array("another", "because", "between", "company", "country", "example",
      "general", "however", "million", "nothing", "problem", "program",
      "project", "several", "someone", "meaning", "through",
      "whether", "working"),
    Array("actually", "anything", "business", "complete", "continue",
      "decision", "possible", "question", "remember", "research", "sentence",
      "somebody", "thousand", "together", "yourself"),
    Array("important", "something", "community", "different", "education",
      "everybody", "following", "political", "questions", "sometimes",
      "therefore", "attention")
  )

  private def fmt(x: Double): String = String.format(Locale.ROOT, "%.2f", Double.box(x))

  /** Word lengths and sentence breaks of one segment's text. */
  private case class Shape(wordLens: Array[Int], sentenceEnds: Set[Int], terminal: Array[Char])

  private def shape(r: java.util.Random, minWords: Int, spread: Int): Shape = {
    val n = minWords + r.nextInt(spread)
    val lens = Array.fill(n)(2 + r.nextInt(Vocab.length))
    // A sentence ends every 5-12 words and always at the segment's end.
    val ends = scala.collection.mutable.Set(n - 1)
    var i = 4 + r.nextInt(8)
    while (i < n - 1) { ends += i; i += 5 + r.nextInt(8) }
    val terminal = Array.fill(n)(if (r.nextInt(6) == 0) '?' else '.')
    Shape(lens, ends.toSet, terminal)
  }

  /** Render a shape with seeded word choice. Character count depends on
    * the shape only. */
  private def render(s: Shape, words: java.util.Random, prev: Array[String]): String = {
    val b = new StringBuilder
    var capitalize = true
    var i = 0
    while (i < s.wordLens.length) {
      val pool = Vocab(s.wordLens(i) - 2)
      var w = pool(words.nextInt(pool.length))
      if (w == prev(0)) w = pool((pool.indexOf(w) + 1) % pool.length)
      prev(0) = w
      if (i > 0) b.append(' ')
      b.append(if (capitalize) w.capitalize else w)
      capitalize = s.sentenceEnds(i)
      if (capitalize) {
        b.append(s.terminal(i))
        prev(0) = "" // punctuation separates a repeat
      }
      i += 1
    }
    b.toString
  }

  private case class Seg(start: Double, end: Double, text: String, speaker: String)

  private def toJson(segs: Seq[Seg]): String =
    segs
      .map(s =>
        s"""{"start": ${fmt(s.start)}, "end": ${fmt(s.end)}, "text": "${s.text}", "speaker": "${s.speaker}"}""")
      .mkString("{\"segments\": [\n", ",\n", "\n]}\n")

  /** Cumulative times for the given raw durations, scaled to `total`
    * seconds and rounded to centiseconds; consecutive segments touch. */
  private def timeline(durations: Array[Double], total: Double): Array[(Double, Double)] = {
    val scale = total / durations.sum
    var acc = 0.0
    durations.map { d =>
      val s = math.round(acc * 100) / 100.0
      acc += d * scale
      (s, math.round(acc * 100) / 100.0)
    }
  }

  /** The reference-shaped transcript for `seed`, as JSON. */
  def reference(seed: Long): String = {
    val structure = new java.util.Random(RefStructureSeed)
    val words = new java.util.Random(seed)
    val durations = Array.fill(RefSegments)(2.0 + 7.0 * structure.nextDouble())
    val times = timeline(durations, RefSeconds)
    val prev = Array("")
    val segs = times.map { case (s, e) =>
      Seg(s, e, render(shape(structure, 3, 12), words, prev), RefSpeaker)
    }
    toJson(segs.toSeq)
  }

  /** Segment counts of the corpus, evenly spread over the range. */
  def corpusSegmentCounts: Seq[Int] =
    (0 until CorpusSize).map(i =>
      CorpusMinSegments + i * (CorpusMaxSegments - CorpusMinSegments) / (CorpusSize - 1))

  /** The multi-speaker corpus for `seed`: (JSON, segment count) per
    * transcript. */
  def corpus(seed: Long): Seq[(String, Int)] = {
    val structure = new java.util.Random(CorpusStructureSeed)
    val words = new java.util.Random(seed)
    val speakerCounts = (0 until CorpusSize).map(i =>
      CorpusMinSpeakers + i % (CorpusMaxSpeakers - CorpusMinSpeakers + 1))
    val shapes = shuffle(corpusSegmentCounts.zip(shuffle(speakerCounts, structure)), structure)
    shapes.map { case (nSeg, nSpk) =>
      val durations = Array.fill(nSeg)(1.5 + 6.0 * structure.nextDouble())
      val times = timeline(durations, durations.sum)
      var speaker = structure.nextInt(nSpk)
      var runLeft = 1 + structure.nextInt(4)
      val prev = Array("")
      val segs = times.map { case (s, e) =>
        if (runLeft == 0) {
          speaker = (speaker + 1 + structure.nextInt(nSpk - 1)) % nSpk
          runLeft = 1 + structure.nextInt(4)
        }
        runLeft -= 1
        Seg(s, e, render(shape(structure, 3, 20), words, prev), f"SPEAKER_$speaker%02d")
      }
      (toJson(segs.toSeq), nSeg)
    }
  }

  private def shuffle[A](xs: Seq[A], r: java.util.Random): Seq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq.asInstanceOf[Seq[A]]
  }
}
