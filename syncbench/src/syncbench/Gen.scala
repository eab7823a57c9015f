package syncbench

import java.util.SplittableRandom

/** Seeded input generation shared by the workloads and their checks.
  * Every value is a pure function of (seed, id, version), so the
  * generator can recompute any record it planted without storing it. */
object Gen {

  /** SplitMix64 finaliser: a cheap, well-mixed 64-bit hash. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed) ^ salt))

  private def recordRng(seed: Long, id: Int, ver: Int) =
    rng(seed, (id.toLong << 24) ^ ver.toLong ^ 0x5EEDL)

  /** 64 short words; record names are drawn from them. */
  private val NameWords: Array[String] = {
    val syl = Array("ka", "lo", "mi", "ne", "ru", "ta", "vo", "si")
    (for (a <- syl; b <- syl) yield a + b).toArray
  }

  def idStr(i: Int): String = {
    val s = Integer.toString(i)
    "r" + ("0" * (9 - s.length)) + s
  }

  /** One source record of the sync workloads. `wide` plants a name
    * longer than the JDBC table's title column, which the table rejects. */
  final case class Rec(id: String, version: Long, name: String,
      amount: Double, qty: Int, flag: Boolean)

  val NameWidth = 60
  val WideNameWidth = 80

  def record(seed: Long, id: Int, ver: Int, wide: Boolean): Rec = {
    val r = recordRng(seed, id, ver)
    val width = if (wide) WideNameWidth else NameWidth
    val sb = new java.lang.StringBuilder(width + 8)
    while (sb.length < width) {
      sb.append(NameWords(r.nextInt(NameWords.length))).append(' ')
    }
    Rec(idStr(id), ver.toLong, sb.substring(0, width),
      r.nextInt(10000000) / 100.0, r.nextInt(1000), r.nextBoolean())
  }

  /** The preset's mapping applied by the benchmark itself (not through
    * the engine's mapper), as one canonical line per committed row:
    * id, version, title, amount_cents, qty, label, active. */
  def mappedLine(r: Rec): String =
    s"${r.id}|${r.version}|${r.name}|${math.round(r.amount * 100)}|" +
      s"${r.qty}|${r.name.substring(0, 8).toUpperCase}|${r.flag}"

  /** FNV-1a over the chars, then mixed: the per-row hash of the
    * order-independent state fingerprint. */
  def hash64(s: String): Long = {
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < s.length) {
      h = (h ^ s.charAt(i)) * 0x100000001B3L
      i += 1
    }
    mix(h)
  }

  /** Vocabulary of the dedup corpus: 4096 distinct pronounceable words. */
  val Vocab: Array[String] = {
    val c = Array("b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t",
      "v", "z", "ch", "sh")
    val v = Array("a", "e", "i", "o", "u", "ai", "ou", "ei")
    (for (a <- c; x <- v; b <- c; y <- v) yield a + x + b + y).toArray
  }

  def words(r: SplittableRandom, n: Int): Array[String] =
    Array.fill(n)(Vocab(r.nextInt(Vocab.length)))

  /** Word 3-gram shingles exactly as the engine's MinHash methods define
    * them: lower-case, trim, collapse whitespace, split on a space,
    * distinct grams; fewer than n tokens give one gram of all tokens. */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val toks = text.trim.toLowerCase.replaceAll("\\s+", " ").split(" ", -1)
    if (toks.length < n) Set(toks.mkString(" "))
    else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / math.max(a.size + b.size - inter, 1)
  }
}
