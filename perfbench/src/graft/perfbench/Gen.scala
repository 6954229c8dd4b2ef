package graft.perfbench

import java.util.SplittableRandom

/** Seeded input generator. The same seed gives the same inputs; the
  * program under test only ever sees the generated rows.
  *
  * Text is sentences of English function words ("the", "and", "of",
  * "is" — the language and quality gates' markers) around words drawn
  * from a fixed synthetic vocabulary, so generated documents pass the
  * curation gates unless a plant is meant to fail one, and no two
  * unrelated documents share an 8-word shingle. */
final class Gen(seed: Long) {
  private val r = new SplittableRandom(seed)

  def int(n: Int): Int = r.nextInt(n)
  def double(): Double = r.nextDouble()
  def word(): String = Gen.vocab(r.nextInt(Gen.vocab.length))
  def words(n: Int): String = Seq.fill(n)(word()).mkString(" ")

  def sentence(): String = r.nextInt(3) match {
    case 0 => s"The ${word()} ${word()} of the ${word()} is ${word()} and ${word()}."
    case 1 => s"${word().capitalize} ${word()} is the ${word()} of ${word()} ${word()} and the ${word()}."
    case _ => s"The ${word()} and the ${word()} ${word()} is ${word()} of ${word()} ${word()}."
  }

  /** Sentences until at least `chars` characters. */
  def text(chars: Int): String = {
    val sb = new StringBuilder
    while (sb.length < chars) { if (sb.nonEmpty) sb.append(' '); sb.append(sentence()) }
    sb.toString
  }

  /** Fisher-Yates shuffle. */
  def shuffle[T](xs: Seq[T]): Seq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }
}

object Gen {
  /** 4096 distinct pronounceable words, fixed for every seed. */
  val vocab: Array[String] = {
    val r = new SplittableRandom(20261017L)
    val on = Array("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z", "br", "st", "tr", "pl", "gr")
    val nu = Array("a", "e", "i", "o", "u", "ai", "ea", "ou")
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    val stop = Set("the", "and", "of", "is", "le", "la", "et", "les", "el", "que", "los",
      "una", "der", "und", "die", "nicht")
    while (seen.size < 4096) {
      val w = (0 until 2 + r.nextInt(2)).map(_ => on(r.nextInt(on.length)) + nu(r.nextInt(nu.length))).mkString
      if (!stop(w)) seen += w
    }
    seen.toArray
  }
}
