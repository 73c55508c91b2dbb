package graft

import org.apache.spark.sql.functions._

import graft.api._
import graft.core._
import graft.ext._

/** J8/J9 episode walks + provenance, W10 relation reconciliation,
  * S8 persistence round-trip.
  */
class EpisodeSpec extends SparkSuite {

  private val T0 = 1700000000000L

  test("episodeChain (J8) walks NEXT_EPISODE in both directions") {
    val m = new MemoryManager(spark,
      MemoryConfig(userId = "alice", enableEpisodes = true),
      new GraphStore(spark), new MockEmbedder(16),
      new ScriptedExtractor(Nil), new AddAllReconciler)
    (1 to 4).foreach(i =>
      m.add(s"msg $i", infer = false, runId = Some("r1"), now = Some(T0 + i * 1000)))
    // reference semantics (manager.py:1407-1473): origin EXCLUDED,
    // order = reversed(backward) ++ forward, hydrated EpisodeResults
    def ids(r: Seq[EpisodeResult]) = r.map(_.episodeId)
    assert(ids(m.episodeChain("1", maxDepth = 10)) == Seq("2", "3", "4"))
    assert(ids(m.episodeChain("3", direction = "forward")) == Seq("4"))
    assert(ids(m.episodeChain("3", direction = "backward")) == Seq("1", "2"))
    assert(ids(m.episodeChain("2", maxDepth = 1, direction = "both")) == Seq("1", "3"))
    assert(m.episodeChain("1").head.content == "msg 2") // hydrated props
  }

  test("provenance (J9): PRODUCED + MENTIONS lookups") {
    val m = new MemoryManager(spark,
      MemoryConfig(userId = "alice", enableEpisodes = true),
      new GraphStore(spark), new MockEmbedder(16),
      new ScriptedExtractor(Seq(Extraction(Seq("alice works at acme"),
        Seq(ExtractedEntity("alice", "person")), Nil))),
      new AddAllReconciler)
    m.add("Alice works at Acme", now = Some(T0))
    val prov = m.getProvenance("1") // memory 1 ← episode 1, hydrated
    assert(prov.map(_.episodeId) == Seq("1"))
    assert(prov.head.content == "Alice works at Acme")
    assert(prov.head.producedMemories == Seq("1"))
    assert(prov.head.mentionedEntities == Seq("alice"))
    val (produced, mentions) = m.episodeOutputs("1")
    assert(produced == Seq("1"))
    assert(mentions == Seq("1")) // entity alice

    // getEpisodes: scoped listing, chronological, session filter + limit
    m.add("Bob joined Acme", sessionId = Some("s2"), now = Some(T0 + 1000))
    val all = m.getEpisodes()
    assert(all.map(_.episodeId) == Seq("1", "2"))
    assert(m.getEpisodes(sessionId = Some("s2")).map(_.episodeId) == Seq("2"))
    assert(m.getEpisodes(limit = 1).map(_.episodeId) == Seq("1"))
  }

  test("episode MENTIONS edges point at the add's graph-scoped entity ids") {
    // one user, two graphs, one shared store: each graph upserts its own
    // "alice"; the g2 episode must mention g2's alice (id 2), not the
    // lower-id same-named entity of g1
    val store = new GraphStore(spark)
    def mgr(graph: String) = new MemoryManager(spark,
      MemoryConfig(userId = "alice", graphName = Some(graph), enableEpisodes = true),
      store, new MockEmbedder(16),
      new ScriptedExtractor(Seq(Extraction(Seq(s"alice is in $graph"),
        Seq(ExtractedEntity("alice", "person")), Nil))),
      new AddAllReconciler)
    mgr("g1").add("Alice is in g1", now = Some(T0))
    mgr("g2").add("Alice is in g2", now = Some(T0 + 1000))
    def dsts(edgeType: String, src: Long) = store.edges
      .filter(col("edge_type") === edgeType && col("src") === src)
      .select("dst").collect().map(_.getLong(0)).toSeq
    assert(dsts(EdgeTypes.HasEntity, 2L) == Seq(2L)) // memory 2 → g2's alice
    assert(dsts(EdgeTypes.Mentions, 2L) == Seq(2L)) // episode 2 → g2's alice
  }

  test("multiple facts from one add → ONE episode with multiple produced memories") {
    // reference tests/test_episodes.py test_multiple_facts_multiple_produced
    val m = new MemoryManager(spark,
      MemoryConfig(userId = "alice", enableEpisodes = true),
      new GraphStore(spark), new MockEmbedder(16),
      new ScriptedExtractor(Seq(Extraction(
        Seq("alice works at acme", "bob works at globex"), Nil, Nil))),
      new AddAllReconciler)
    val r = m.add("Alice works at Acme. Bob works at Globex.",
      runId = Some("run1"), now = Some(T0))
    assert(r.events.size == 2)
    val eps = m.getEpisodes()
    assert(eps.size == 1)
    assert(eps.head.producedMemories == Seq("1", "2"))
  }

  test("episode nodes never surface in search results") {
    // reference tests/test_episodes.py test_episode_nodes_not_in_search
    val m = new MemoryManager(spark,
      MemoryConfig(userId = "alice", enableEpisodes = true),
      new GraphStore(spark), new MockEmbedder(16),
      new ScriptedExtractor(Seq(Extraction(Seq("alice works at acme"), Nil, Nil))),
      new AddAllReconciler)
    m.add("Alice works at Acme", runId = Some("run1"), now = Some(T0))
    val results = m.search("alice work", k = 10)
    assert(results.nonEmpty)
    results.foreach(r => assert(Set("vector", "graph", "both")(r.source)))
    // no result id collides with an episode's content space: result
    // texts come from the memories table only
    results.foreach(r => assert(r.text == "alice works at acme"))
  }

  test("episode chain links when the run id comes from CONFIG, not the call") {
    // regression: chainKey uses runId.orElse(config.runId); the stored
    // episode row must carry the same effective run id or the
    // prev-episode lookup never matches (manager.py:1245-1246,1297)
    val m = new MemoryManager(spark,
      MemoryConfig(userId = "alice", runId = Some("r9"), enableEpisodes = true),
      new GraphStore(spark), new MockEmbedder(16),
      new ScriptedExtractor(Nil), new AddAllReconciler)
    m.add("first", infer = false, sessionId = Some("s"), now = Some(T0))
    m.add("second", infer = false, sessionId = Some("s"), now = Some(T0 + 1000))
    val nextEdges = m.store.edges
      .filter(col("edge_type") === EdgeTypes.NextEpisode).count()
    assert(nextEdges == 1L) // episode 1 -> episode 2 linked via config.runId
    assert(m.episodeChain("1").map(_.episodeId) == Seq("2"))
  }

  test("relation reconciliation (W10): trait-selected triples deleted, first match only") {
    val reconciler = new Reconciler {
      override def reconcile(facts: Seq[String],
          candidates: Seq[(Long, String)]): Seq[Decision] =
        facts.map(f => Decision(DecisionAction.Add, f, None))
      override def reconcileRelations(
          newRels: Seq[ExtractedRelation],
          existing: Seq[ExtractedRelation]): Seq[ExtractedRelation] =
        existing.filter(_.relationType == "works_at") // drop outdated triple
    }
    val m = new MemoryManager(spark,
      MemoryConfig(userId = "alice"),
      new GraphStore(spark), new MockEmbedder(16),
      new ScriptedExtractor(Seq(
        Extraction(Seq("alice works at acme"),
          Seq(ExtractedEntity("alice", "p"), ExtractedEntity("acme", "o")),
          Seq(ExtractedRelation("alice", "acme", "works_at"))),
        Extraction(Seq("alice left acme"),
          Seq(ExtractedEntity("alice", "p"), ExtractedEntity("acme", "o")),
          Seq(ExtractedRelation("alice", "acme", "left"))))),
      reconciler)
    m.add("Alice works at Acme", now = Some(T0))
    val rels0 = m.store.edges.filter(col("edge_type") === EdgeTypes.Relation)
    assert(rels0.count() == 1)
    m.add("Alice left Acme", now = Some(T0 + 1000))
    val rels = m.store.edges.filter(col("edge_type") === EdgeTypes.Relation)
      .select("props").collect().map(_.getMap[String, String](0)("relation_type"))
    assert(rels.toSeq == Seq("left")) // works_at deleted, left appended
  }

  test("persistence (S8): empty store round-trips (0-row partitioned write regression)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-empty").toString
    val store = new GraphStore(spark)
    store.persist(dir)
    val store2 = new GraphStore(spark)
    store2.load(dir) // must not fail UNABLE_TO_INFER_SCHEMA
    assert(store2.memories.isEmpty && store2.edges.isEmpty)
  }

  test("persistence (S8): parquet round-trip preserves state and id counters") {
    val dir = java.nio.file.Files.createTempDirectory("graft-store").toString
    val m = new MemoryManager(spark, MemoryConfig(userId = "alice"),
      new GraphStore(spark), new MockEmbedder(16),
      new ScriptedExtractor(Nil), new AddAllReconciler)
    m.add("persisted fact one", infer = false, now = Some(T0))
    m.add("persisted fact two", infer = false, now = Some(T0 + 1000))
    m.store.persist(dir)

    val store2 = new GraphStore(spark)
    store2.load(dir)
    val m2 = new MemoryManager(spark, MemoryConfig(userId = "alice"),
      store2, new MockEmbedder(16), new ScriptedExtractor(Nil), new AddAllReconciler)
    assert(m2.getAll().map(_.text).toSet ==
      Set("persisted fact one", "persisted fact two"))
    // id counter resumes after the loaded max
    val r = m2.add("third", infer = false, now = Some(T0 + 2000))
    assert(r.events.head.memoryId.contains("3"))
    assert(m2.search("persisted fact one", k = 1).head.text == "persisted fact one")
  }
}
