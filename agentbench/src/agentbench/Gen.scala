package agentbench

import java.util.Random

/** Seeded input generator. Everything the engine receives — memory texts,
  * queries and `now` timestamps — is a pure function of the seed
  * and an index, so a turn's inputs do not depend on how many turns ran
  * before it or how long they took.
  *
  * Texts read "Name verb Name at the place about the topic on day N.":
  * the engine's rule-based extractor turns each one into one fact, two
  * entities and one "verb" relation, and names are drawn Zipf-skewed so a
  * few entities are hubs. Queries start lower-case and carry one or two
  * names, so every search also runs the graph-search branch; they avoid the
  * words the temporal-hint detector reacts to.
  */
final class Gen(val seed: Long, entities: Int, zipfS: Double) {
  import Gen._

  val names: IndexedSeq[String] = Gen.names(seed, entities)
  private val nameDist = new Zipf(entities, zipfS)
  /** Store time at seeding: a seed-dependent whole day after [[Epoch]]. */
  val seedNow: Long = Epoch + math.floorMod(seed, 1000L) * DayMs

  private def rng(stream: Long, i: Long): Random = new Random(mix(seed, stream, i))

  private def text(r: Random, day: Int): String = {
    val a = names(nameDist.sample(r))
    var b = names(nameDist.sample(r))
    if (b == a) b = names((names.indexOf(a) + 1) % names.size)
    s"$a ${pick(r, Verbs)} $b at the ${pick(r, Places)} about the ${pick(r, Topics)} on day $day."
  }

  /** The i-th seeded memory text. */
  def seedText(i: Int): String = text(rng(1, i), i)

  /** Inputs of turn `i`. Warm-up turns use negative indices, so they never
    * repeat a timed turn's inputs. `now` grows with the index and stays
    * after [[seedNow]] for indices above -1000.
    */
  def turn(i: Int, diverseEvery: Int): Turn = {
    val r = rng(2, i)
    val addText = text(r, 100000 + math.abs(i))
    val a = names(nameDist.sample(r))
    val query =
      if (r.nextBoolean()) s"what did $a say about the ${pick(r, Topics)}"
      else s"how is $a tied to ${names(nameDist.sample(r))} at the ${pick(r, Places)}"
    val now = seedNow + (i.toLong + 1000L) * 60000L + r.nextInt(60000)
    Turn(i, addText, query,
      diverse = diverseEvery > 0 && math.floorMod(i, diverseEvery) == diverseEvery - 1,
      now = now)
  }
}

/** One agent turn's inputs. Whether `addText` is added is the workload's
  * choice; the query is always issued.
  */
final case class Turn(
    index: Int,
    addText: String,
    query: String,
    diverse: Boolean,
    now: Long)

object Gen {
  val Epoch = 1700000000000L
  val DayMs = 86400000L

  private val Syllables = IndexedSeq("ka", "lo", "mi", "ra", "ven", "tor", "si",
    "dal", "nor", "be", "qua", "ri", "zel", "mo", "fen", "ta", "ul", "pe")
  private val Verbs = IndexedSeq("met", "works with", "visited", "trusts",
    "called", "lives near", "argued with", "helped")
  private val Places = IndexedSeq("harbor market", "old mill", "north bridge",
    "tea house", "rail yard", "city archive", "river bank", "glass works")
  private val Topics = IndexedSeq("budget", "recipe", "garden", "contract",
    "concert", "repair", "lesson", "journey", "invoice", "festival")

  private def pick[T](r: Random, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))

  /** SplitMix64 finaliser over (seed, stream, index): independent,
    * reproducible generator seeds for every stream and index.
    */
  def mix(seed: Long, stream: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + i * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** `n` distinct capitalised names of two or three syllables. */
  def names(seed: Long, n: Int): IndexedSeq[String] = {
    val r = new Random(mix(seed, 0, 0))
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val w = (0 until 2 + r.nextInt(2)).map(_ => pick(r, Syllables)).mkString
      seen += w.capitalize
    }
    seen.toIndexedSeq
  }
}

/** Zipf(s) over 0 until n by inverse-CDF lookup. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  def sample(r: Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}
