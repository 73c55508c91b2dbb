package agentbench

import graft.api.{MemoryStats, SearchResult}

/** Tests of the benchmark's own logic. They need no Spark session, run at
  * the start of every benchmark run and fail it when one does not hold;
  * `SelfTest` as a main runs them alone.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val failures = run()
    failures.foreach(System.err.println)
    println(s"self-test: ${failures.size} failure(s)")
    sys.exit(if (failures.isEmpty) 0 else 1)
  }

  /** The failed checks, empty when all hold. */
  def run(): Seq[String] = {
    val out = Seq.newBuilder[String]
    def check(name: String)(ok: => Boolean): Unit =
      try { if (!ok) out += name }
      catch { case scala.util.control.NonFatal(e) => out += s"$name: $e" }

    // generator: deterministic per seed, different across seeds
    def sample(seed: Long) = {
      val g = new Gen(seed, 50, 1.1)
      ((0 until 20).map(g.seedText), (-3 until 20).map(g.turn(_, 5)))
    }
    check("generator repeats a seed")(sample(7) == sample(7))
    check("generator varies with the seed")(sample(7) != sample(8))
    check("turn inputs do not depend on order") {
      val g = new Gen(3, 50, 1.1)
      val forward = (0 until 5).map(g.turn(_, 5))
      forward.reverse == (4 to 0 by -1).map(g.turn(_, 5))
    }
    check("now grows with the turn index") {
      val g = new Gen(3, 50, 1.1)
      val ts = (-4 until 30).map(g.turn(_, 5).now)
      ts.zip(ts.tail).forall { case (a, b) => a < b } && ts.head > g.seedNow
    }
    check("generated texts yield two entities and a relation") {
      val g = new Gen(5, 50, 1.1)
      val x = new graft.ext.HeuristicExtractor
      (0 until 50).forall { i =>
        val e = x.extract(g.seedText(i))
        e.facts.size == 1 && e.entities.size == 2 && e.relations.size == 1
      }
    }
    check("queries carry no temporal hint") {
      val g = new Gen(5, 50, 1.1)
      (0 until 200).forall(i => !graft.ops.TemporalOps.detectTemporalHints(g.turn(i, 5).query).isTemporal)
    }

    // tail rule: the 11th-largest value, only above the median
    val xs = (1 to 100).map(_.toDouble)
    check("tail of 100 samples is p90")(
      Dist.tail(xs).contains(Dist.Tail(90.0, 90.0, 100)))
    check("tail leaves exactly 10 samples beyond")(
      Dist.tail(xs).forall(t => xs.count(_ > t.value) == Dist.TailBeyond))
    check("tail of 23 samples is the 13th smallest")(
      Dist.tail((1 to 23).map(_.toDouble)).map(_.value).contains(13.0))
    check("no tail from 22 samples")(Dist.tail((1 to 22).map(_.toDouble)).isEmpty)
    check("median of even and odd samples")(
      Dist.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5 && Dist.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    check("interval union merges overlaps")(
      Dist.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L), (21L, 22L))) == 25L)

    // call-site attribution
    Seq(
      "collect at GraphAlgorithms.scala:123" -> "GraphAlgorithms",
      "count at MemoryManager.scala:1720" -> "MemoryManager",
      "localCheckpoint at GraphStore.scala:118" -> "GraphStore",
      "collect at SearchOps.scala:88" -> "SearchOps",
      "isEmpty at GraphOps.scala:40" -> "GraphOps",
      "collect at ScoringOps.scala:12" -> "ScoringOps",
      "collect at FilterOps.scala:12" -> "other",
      "count at TemporalOps.scala:9" -> "other",
      "$anonfun$withThreadLocalCaptured$1 at FutureTask.java:264" -> "other",
      "" -> "other"
    ).foreach { case (site, mod) =>
      check(s"call site '$site' maps to $mod")(Attribution.module(site) == mod)
    }
    val helperStack = Seq(
      "org.apache.spark.sql.Dataset.localCheckpoint(Dataset.scala:700)",
      "graft.ops.Checkpoints$.observe(Checkpoints.scala:40)",
      "graft.ops.GraphAlgorithms$.pageRank(GraphAlgorithms.scala:210)",
      "graft.api.MemoryManager.recomputeGraphMetricsIfDirty(MemoryManager.scala:1095)"
    ).mkString("\n")
    check("a helper's action is credited to its calling module")(
      Attribution.module("localCheckpoint at Checkpoints.scala:40", helperStack) == "GraphAlgorithms")
    check("the short call site wins over the stack")(
      Attribution.module("collect at SearchOps.scala:88", helperStack) == "SearchOps")

    // invariant checker: accepts a good page, rejects each planted fault
    val ledger = new Ledger("user00")
    ledger.record(Seq("1", "2", "3"))
    def r(id: String, score: Double, user: String = "user00", expired: Option[Long] = None) =
      SearchResult(id, s"text $id", score, user, None, None, None, "semantic", "vector",
        None, None, None, expired, None, None)
    val good = Seq(r("1", 0.9), r("2", 0.5), r("3", 0.5))
    check("checker accepts a valid page")(Checks.search(good, 3, ledger).isEmpty)
    Seq(
      "too many results" -> (good, 2),
      "rising score" -> (Seq(r("1", 0.4), r("2", 0.5)), 10),
      "duplicate id" -> (Seq(r("1", 0.9), r("1", 0.9)), 10),
      "other tenant" -> (Seq(r("1", 0.9, user = "user01")), 10),
      "unknown id" -> (Seq(r("9", 0.9)), 10),
      "expired row" -> (Seq(r("2", 0.9, expired = Some(1L))), 10)
    ).foreach { case (fault, (page, k)) =>
      check(s"checker rejects $fault")(Checks.search(page, k, ledger).nonEmpty)
    }
    def stats(total: Long) = MemoryStats(total, total, 0, 0, 0, 0, 0, 0, 0)
    check("stats check accepts the ledger count")(Checks.stats(stats(3), ledger).isEmpty)
    check("stats check rejects a wrong count")(Checks.stats(stats(4), ledger).nonEmpty)
    check("digest depends on ranks") {
      val a = new Digest; a.add(0, good)
      val b = new Digest; b.add(0, good.reverse)
      val c = new Digest; c.add(0, good)
      a.hex != b.hex && a.hex == c.hex
    }
    out.result()
  }
}
