package agentbench

import graft.api.{MemoryStats, SearchResult}

/** The benchmark's own record of the memories it caused to exist: seeded
  * rows plus every ADD event the engine reported. The workloads only add,
  * so every recorded memory stays live.
  */
final class Ledger(val tenant: String) {
  private val ids = scala.collection.mutable.HashSet.empty[String]
  def record(added: Iterable[String]): Unit = ids ++= added
  def size: Long = ids.size.toLong
  def contains(id: String): Boolean = ids.contains(id)
}

/** Output invariants. Each check returns the violations it found, empty
  * when the output is correct.
  */
object Checks {
  def search(page: Seq[SearchResult], k: Int, ledger: Ledger): Seq[String] = {
    val v = Seq.newBuilder[String]
    if (page.size > k) v += s"${page.size} results for k=$k"
    page.sliding(2).foreach {
      case Seq(a, b) if b.score > a.score =>
        v += s"score rises from ${a.memoryId}=${a.score} to ${b.memoryId}=${b.score}"
      case _ => ()
    }
    page.groupBy(_.memoryId).collect { case (id, rs) if rs.size > 1 => v += s"duplicate id $id" }
    page.foreach { r =>
      if (r.userId != ledger.tenant) v += s"id ${r.memoryId} belongs to ${r.userId}"
      if (!ledger.contains(r.memoryId)) v += s"id ${r.memoryId} is not a live memory of ${ledger.tenant}"
      if (r.expiredAt.nonEmpty) v += s"id ${r.memoryId} is expired"
    }
    v.result()
  }

  def stats(s: MemoryStats, ledger: Ledger): Seq[String] =
    if (s.totalMemories == ledger.size) Nil
    else Seq(s"stats.totalMemories=${s.totalMemories}, ledger holds ${ledger.size}")
}

/** SHA-256 over (turn, rank, id) of every search page fed to it: two runs
  * with one seed must print the same digest.
  */
final class Digest {
  private val md = java.security.MessageDigest.getInstance("SHA-256")
  def add(turn: Int, page: Seq[SearchResult]): Unit =
    page.zipWithIndex.foreach { case (r, rank) =>
      md.update(s"$turn:$rank:${r.memoryId};".getBytes("UTF-8"))
    }
  def hex: String = md.clone().asInstanceOf[java.security.MessageDigest]
    .digest().take(8).map(b => f"${b & 0xff}%02x").mkString
}
