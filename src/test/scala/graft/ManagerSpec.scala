package graft

import org.apache.spark.sql.functions._

import graft.api._
import graft.core._
import graft.ext._

/** End-to-end manager behavior — ports the shape of the reference's
  * integration tests (tests/test_manager.py) with scripted traits and a
  * fixed clock (FIXTURES.md §1-3).
  */
class ManagerSpec extends SparkSuite {

  private val T0 = 1700000000000L

  private def mkManager(
      outputs: Seq[Extraction] = Nil,
      decisions: Seq[Seq[Decision]] = Nil,
      config: MemoryConfig = MemoryConfig(userId = "alice")
  ): MemoryManager = {
    var tick = 0L
    new MemoryManager(
      spark, config, new GraphStore(spark),
      new MockEmbedder(config.embeddingDimensions),
      new ScriptedExtractor(outputs),
      if (decisions.isEmpty) new AddAllReconciler else new ScriptedReconciler(decisions),
      reranker = Some(new HashReranker),
      clock = () => { tick += 1; T0 + tick * 1000 }
    )
  }

  test("add(infer=false) inserts and search finds it") {
    val m = mkManager()
    val r = m.add("Alice works at Acme Corp", infer = false, now = Some(T0))
    assert(r.events.map(_.event) == Seq("ADD"))
    assert(r.events.head.memoryId.contains("1"))
    val hits = m.search("Alice works at Acme Corp", k = 5)
    assert(hits.nonEmpty)
    assert(hits.head.memoryId == "1")
    assert(hits.head.text == "Alice works at Acme Corp")
    // same-text query embeds identically → cosine 1 (± fp) dominates
    assert(hits.head.score > 0.99)
  }

  test("add(infer=true) extracts facts and entities, creates graph edges") {
    val m = mkManager(outputs = Seq(Extraction(
      facts = Seq("alice works at acme corp"),
      entities = Seq(ExtractedEntity("alice", "person"),
        ExtractedEntity("acme_corp", "organization")),
      relations = Seq(ExtractedRelation("alice", "acme_corp", "works_at")))))
    val r = m.add("Alice works at Acme Corp", now = Some(T0))
    assert(r.events.map(_.event) == Seq("ADD"))
    assert(m.store.entities.count() == 2)
    val he = m.store.edges.filter(col("edge_type") === EdgeTypes.HasEntity)
    assert(he.count() == 2) // memory -> each entity
    val rel = m.store.edges.filter(col("edge_type") === EdgeTypes.Relation)
    assert(rel.count() == 1)
    assert(m.history("1").map(_.event) == Seq("ADD"))
  }

  /** Scripted extraction plus a fixed valid_at annotation per fact text. */
  private def temporalExtractor(outputs: Seq[Extraction],
      validAt: Map[String, Long]): Extractor = new Extractor {
    private val scripted = new ScriptedExtractor(outputs)
    override def extract(text: String): Extraction = scripted.extract(text)
    override def annotateTemporal(facts: Seq[String]): Seq[TemporalAnnotation] =
      facts.zipWithIndex.flatMap { case (f, i) =>
        validAt.get(f).map(v => TemporalAnnotation(i, Some(v), None)) }
  }

  test("empty facts → no events") {
    val m = mkManager(outputs = Seq(Extraction(Nil, Nil, Nil)))
    assert(m.add("hmm", now = Some(T0)).events.isEmpty)
  }

  test("add: an extraction without facts writes nothing, entities and relations included") {
    val m = mkManager(outputs = Seq(Extraction(Nil,
      Seq(ExtractedEntity("carol", "person"), ExtractedEntity("acme", "org")),
      Seq(ExtractedRelation("carol", "acme", "works_at")))))
    val v0 = m.store.writeVersion
    assert(m.add("hmm", now = Some(T0)).events.isEmpty)
    assert(m.store.writeVersion == v0)
    assert(m.store.entities.isEmpty && m.store.edges.isEmpty)
  }

  test("add: session chain links from the call's own UPDATE-created memory") {
    // _link_session_chain rule: the predecessor is the latest
    // (created_at, id) non-expired chain memory outside the call's ADD
    // ids — the seed is expired by this call's UPDATE, whose new memory
    // (same session, same timestamp) becomes the predecessor
    val m = mkManager(
      outputs = Seq(Extraction(Seq("alice moved to rome", "alice likes pasta"), Nil, Nil)),
      decisions = Seq(Seq(
        Decision(DecisionAction.Update, "alice moved to rome", Some(1L)),
        Decision(DecisionAction.Add, "alice likes pasta", None))),
      config = MemoryConfig(userId = "alice", reconciliationThreshold = 0.0))
    m.add("alice lives in paris", infer = false, sessionId = Some("s1"), now = Some(T0))
    val r = m.add("Alice moved to Rome and likes pasta", sessionId = Some("s1"),
      now = Some(T0 + 1000))
    assert(r.events.map(e => (e.event, e.memoryId)) ==
      Seq(("UPDATE", Some("2")), ("ADD", Some("3"))))
    val lt = m.store.edges.filter(col("edge_type") === EdgeTypes.LeadsTo)
      .select("src", "dst", "props").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getMap[String, String](2).toMap)).toSeq
    assert(lt == Seq((2L, 3L, Map("sequence" -> "0"))))
  }

  test("add: one target expired twice in a call keeps the last bitemporal invalid_at") {
    val (va, vb, vc) = (T0 - 5000, T0 - 3000, T0 - 1000)
    val m = new MemoryManager(spark,
      MemoryConfig(userId = "alice", enableBitemporal = true,
        reconciliationThreshold = 0.0),
      new GraphStore(spark), new MockEmbedder(16),
      temporalExtractor(Seq(Extraction(Seq("fact a", "fact b", "fact c"), Nil, Nil)),
        Map("fact a" -> va, "fact b" -> vb, "fact c" -> vc)),
      new ScriptedReconciler(Seq(Seq(
        Decision(DecisionAction.Update, "fact a", Some(1L)),
        Decision(DecisionAction.Update, "fact b", Some(1L)),
        Decision(DecisionAction.Delete, "", Some(1L))))))
    m.add("seed", infer = false, now = Some(T0))
    m.add("abc", now = Some(T0 + 1000))
    val old = m.store.memories.filter(col("id") === 1)
      .select("expired_at", "invalid_at").collect().head
    assert(old.getLong(0) == T0 + 1000)
    // the second UPDATE re-stamps invalid_at; the DELETE carries none
    assert(old.getLong(1) == vb)
    assert(m.history("1").map(_.event) == Seq("ADD", "DELETE"))
  }

  test("add: relation reconciliation consults the trait only with entities and existing triples") {
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    val reconciler = new Reconciler {
      override def reconcile(facts: Seq[String],
          candidates: Seq[(Long, String)]): Seq[Decision] =
        facts.map(f => Decision(DecisionAction.Add, f, None))
      override def reconcileRelations(newRelations: Seq[ExtractedRelation],
          existing: Seq[ExtractedRelation]): Seq[ExtractedRelation] = {
        calls.incrementAndGet(); Nil
      }
    }
    val (alice, acme) = (ExtractedEntity("alice", "p"), ExtractedEntity("acme", "o"))
    val m = new MemoryManager(spark, MemoryConfig(userId = "alice"),
      new GraphStore(spark), new MockEmbedder(16),
      new ScriptedExtractor(Seq(
        Extraction(Seq("alice works at acme"), Seq(alice, acme),
          Seq(ExtractedRelation("alice", "acme", "works_at"))),
        // relations without entities of their own are not stored
        Extraction(Seq("alice knows acme"), Nil,
          Seq(ExtractedRelation("alice", "acme", "knows"))),
        Extraction(Seq("alice left acme"), Seq(alice, acme),
          Seq(ExtractedRelation("alice", "acme", "left"))))),
      reconciler)
    def relTypes = m.store.edges.filter(col("edge_type") === EdgeTypes.Relation)
      .select("props").collect().map(_.getMap[String, String](0)("relation_type"))
      .toSeq.sorted
    m.add("one", now = Some(T0))
    assert(calls.get == 0) // no existing triples yet
    m.add("two", now = Some(T0 + 1000))
    assert(calls.get == 0 && relTypes == Seq("works_at"))
    m.add("three", now = Some(T0 + 2000))
    assert(calls.get == 1 && relTypes == Seq("left", "works_at"))
  }

  test("one add makes the same number of store mutations for 1 and 4 facts") {
    def mutations(nFacts: Int): Long = {
      val m = mkManager(outputs = Seq(Extraction((1 to nFacts).map(i => s"fact $i"),
        Seq(ExtractedEntity("alice", "person")), Nil)))
      val v0 = m.store.writeVersion
      m.add("msg", sessionId = Some("s1"), now = Some(T0))
      m.store.writeVersion - v0
    }
    assert(mutations(4) == mutations(1))
  }

  test("UPDATE supersede chain: expiry + SUPERSEDES + inherited entity edges + history") {
    val m = mkManager(
      outputs = Seq(
        Extraction(Seq("alice works at acme"), Seq(ExtractedEntity("alice", "person")), Nil),
        Extraction(Seq("alice works at beta"), Seq(ExtractedEntity("beta", "org")), Nil)),
      // first add hits the no-candidates fast path (all-ADD, reconciler
      // NOT consulted, reconciliation/memories.py:88-90); only the second
      // add consumes a scripted decision. Threshold 0 so it finds the
      // first memory as a candidate.
      decisions = Seq(
        Seq(Decision(DecisionAction.Update, "alice works at beta", Some(1L)))),
      config = MemoryConfig(userId = "alice", reconciliationThreshold = 0.0)
    )
    val m2 = m // alias
    m2.add("Alice works at Acme", now = Some(T0))
    val r2 = m2.add("Alice moved to Beta", now = Some(T0 + 10000))
    assert(r2.events.map(_.event) == Seq("UPDATE"))
    assert(r2.events.head.memoryId.contains("2"))
    assert(r2.events.head.previousText.contains("alice works at acme"))

    val old = m2.store.memories.filter(col("id") === 1).collect().head
    assert(!old.isNullAt(old.fieldIndex("expired_at")))
    val sup = m2.store.edges.filter(col("edge_type") === EdgeTypes.Supersedes)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sup.toSeq == Seq((2L, 1L)))
    // inherited: memory 2 gets memory 1's alice edge + its own beta edge
    val he2 = m2.store.edges
      .filter(col("edge_type") === EdgeTypes.HasEntity && col("src") === 2)
      .select("dst").collect().map(_.getLong(0)).toSet
    assert(he2 == Set(1L, 2L)) // entity ids: alice=1, beta=2
    assert(m2.history("2").map(_.event) == Seq("UPDATE"))
    // expired memory no longer surfaces in search
    val hits = m2.search("alice", k = 10)
    assert(!hits.exists(_.memoryId == "1"))
  }

  test("DELETE decision expires with history; delete-without-target skipped") {
    val m = mkManager(
      outputs = Seq(
        Extraction(Seq("fact a"), Nil, Nil),
        Extraction(Seq("drop it"), Nil, Nil)),
      decisions = Seq(
        // first add = fast path; this is consumed by the second add
        Seq(Decision(DecisionAction.Delete, "", Some(1L)),
          Decision(DecisionAction.Delete, "", None))),
      config = MemoryConfig(userId = "alice", reconciliationThreshold = 0.0)
    )
    m.add("a", now = Some(T0))
    val r = m.add("b", now = Some(T0 + 1000))
    assert(r.events.map(_.event) == Seq("DELETE"))
    assert(m.getAll().isEmpty)
    assert(m.getAll(includeExpired = true).size == 1)
    assert(m.history("1").map(_.event) == Seq("ADD", "DELETE"))
  }

  test("multi-tenant scope isolation") {
    val store = new GraphStore(spark)
    def mgr(user: String) = new MemoryManager(spark,
      MemoryConfig(userId = user), store, new MockEmbedder(16),
      new ScriptedExtractor(Nil), new AddAllReconciler)
    val ma = mgr("alice"); val mb = mgr("bob")
    ma.add("alice secret", infer = false, now = Some(T0))
    mb.add("bob secret", infer = false, now = Some(T0))
    assert(ma.getAll().map(_.text) == Seq("alice secret"))
    assert(mb.getAll().map(_.text) == Seq("bob secret"))
    assert(ma.search("secret", k = 10).forall(_.text == "alice secret"))
    assert(mb.deleteAll() == 1L)
    assert(ma.getAll().size == 1)
  }

  test("scoped hybrid candidates: tenant starved by global top-k still gets results") {
    val store = new GraphStore(spark)
    def mgr(user: String, scoped: Boolean) = new MemoryManager(spark,
      MemoryConfig(userId = user, scopedHybridCandidates = scoped),
      store, new MockEmbedder(16), new ScriptedExtractor(Nil), new AddAllReconciler)
    // crowd the store: the global candidate page (fetchK=max(50,4k))
    // fills with alice rows that all embed closer to the query text
    val ma = mgr("alice", scoped = false)
    (1 to 60).foreach(i => ma.add(s"common topic note $i", infer = false, now = Some(T0)))
    val mb = mgr("bob", scoped = false)
    mb.add("bob niche fact", infer = false, now = Some(T0))
    // faithful mode: bob's row may or may not survive the global page —
    // scoped mode MUST return it
    val hits = mgr("bob", scoped = true).search("common topic note 1", k = 5)
    assert(hits.nonEmpty)
    assert(hits.forall(_.userId == "bob"))
  }

  test("batched entity upsert: Spark job count does not scale with entity count") {
    def run(nEnts: Int): Long = {
      val ents = (1 to nEnts).map(i => ExtractedEntity(s"e$i", "t"))
      val m = mkManager(outputs = Seq(Extraction(Seq("f"), ents, Nil)))
      val counter = new java.util.concurrent.atomic.AtomicLong()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          counter.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        m.add("msg", now = Some(T0))
        Thread.sleep(300) // let queued listener events drain
      } finally spark.sparkContext.removeSparkListener(listener)
      counter.get()
    }
    val one = run(1)
    val eight = run(8)
    // one lookup + one append regardless of entity count (was ~2 jobs
    // per entity); allow small constant slack for AQE stages
    assert(eight <= one + 2, s"jobs grew with entity count: $one -> $eight")
  }

  test("stats relationCount is tenant-scoped on a shared store") {
    val store = new GraphStore(spark)
    def mgr(user: String) = new MemoryManager(spark,
      MemoryConfig(userId = user), store, new MockEmbedder(16),
      new ScriptedExtractor(Seq(Extraction(Seq(s"$user works at acme"),
        Seq(ExtractedEntity(s"${user}_self", "p"), ExtractedEntity("acme", "o")),
        Seq(ExtractedRelation(s"${user}_self", "acme", "works_at"))))),
      new AddAllReconciler)
    mgr("bob").add("Bob works at Acme", now = Some(T0))
    assert(mgr("alice").stats().relationCount == 0) // bob's edge invisible
    assert(mgr("bob").stats().relationCount == 1)
  }

  test("search results carry relation triples (J6/F8)") {
    val m = mkManager(outputs = Seq(Extraction(
      facts = Seq("alice works at acme corp"),
      entities = Seq(ExtractedEntity("alice", "person"),
        ExtractedEntity("acme_corp", "organization")),
      relations = Seq(ExtractedRelation("alice", "acme_corp", "works_at")))))
    m.add("Alice works at Acme Corp", now = Some(T0))
    val hits = m.search("alice works at acme corp", k = 5)
    assert(hits.nonEmpty)
    assert(hits.head.relations ==
      Seq(RelationTriple("alice", "works_at", "acme_corp")))
    // memories without relations stay empty, not null
    m.add("unrelated note", infer = false, now = Some(T0))
    val plain = m.search("unrelated note", k = 1)
    assert(plain.head.relations.isEmpty)
  }

  test("community context (G4): entity names map to their communities") {
    val m = mkManager(
      outputs = Seq(Extraction(Seq("alice and bob work at acme"),
        Seq(ExtractedEntity("alice", "person"), ExtractedEntity("bob", "person"),
          ExtractedEntity("acme", "org")),
        Seq(ExtractedRelation("alice", "acme", "works_at"),
          ExtractedRelation("bob", "acme", "works_at")))),
      config = MemoryConfig(userId = "alice", enableGraphAlgorithms = true,
        enableCommunitySummaries = true))
    m.add("Alice and Bob work at Acme", now = Some(T0))
    m.search("anything", k = 1) // triggers community materialization
    val ctx = m.getCommunityContext(Seq("ALICE")) // case-insensitive
    assert(ctx.nonEmpty)
    assert(ctx.head.memberEntities.contains("alice"))
    assert(ctx.head.memberCount >= 2)
    assert(m.getCommunityContext(Seq("nobody")).isEmpty)
    assert(m.getCommunityContext(Nil).isEmpty)
  }

  test("stats counts by type and expiry") {
    val m = mkManager()
    m.add("s1", infer = false, now = Some(T0))
    m.add("p1", memoryType = "procedural", infer = false, now = Some(T0))
    m.add("e1", memoryType = "episodic", infer = false, now = Some(T0))
    val s = m.stats()
    assert(s.totalMemories == 3)
    assert(s.semanticCount == 1 && s.proceduralCount == 1 && s.episodicCount == 1)
    assert(s.expiredCount == 0)
  }

  test("update (W4) overwrites text and records history") {
    val m = mkManager()
    m.add("old text", infer = false, now = Some(T0))
    assert(m.update("1", "new text", now = Some(T0 + 5000)))
    val cur = m.store.memories.filter(col("id") === 1)
      .select("text", "updated_at").collect().head
    assert(cur.getString(0) == "new text")
    assert(cur.getLong(1) == T0 + 5000)
    assert(m.history("1").map(_.event) == Seq("ADD", "UPDATE"))
    assert(!m.update("99", "nope"))
  }

  test("setImportance validates range and patches") {
    val m = mkManager(config = MemoryConfig(userId = "alice", enableImportance = true))
    m.add("x", infer = false, now = Some(T0))
    assert(m.setImportance("1", 0.25))
    intercept[IllegalArgumentException](m.setImportance("1", 1.5))
    val imp = m.store.memories.filter(col("id") === 1)
      .select("importance").collect().head.getDouble(0)
    assert(imp == 0.25)
  }

  test("per-call importance on add/addBatch stored when importance enabled") {
    val m = mkManager(config = MemoryConfig(userId = "alice", enableImportance = true))
    m.add("weighty", infer = false, importance = 0.4, now = Some(T0))
    m.addBatch(Seq("bulk"), importance = 0.7, now = Some(T0))
    val imp = m.store.memories.orderBy(col("id"))
      .select(col("importance")).collect().map(_.getDouble(0)).toSeq
    assert(imp == Seq(0.4, 0.7))
    // importance disabled → column stays null regardless of the arg
    val m2 = mkManager()
    m2.add("plain", infer = false, importance = 0.4, now = Some(T0))
    assert(m2.store.memories.select(col("importance")).collect().head.isNullAt(0))
  }

  test("LEADS_TO session chain (J11) and temporal chain walk (J7)") {
    val m = mkManager()
    m.add("first", infer = false, runId = Some("r1"), now = Some(T0))
    m.add("second", infer = false, runId = Some("r1"), now = Some(T0 + 1000))
    m.add("third", infer = false, runId = Some("r1"), now = Some(T0 + 2000))
    val lt = m.store.edges.filter(col("edge_type") === EdgeTypes.LeadsTo)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lt == Set((1L, 2L), (2L, 3L)))
    // reference semantics: origin excluded, hydrated entries, forward
    // default; "both" dedups across legs and sorts the merged list by
    // created_at (manager.py:1556-1568)
    val fwd = m.temporalChain("1", maxDepth = 5)
    assert(fwd.map(_.memoryId) == Seq("2", "3"))
    assert(fwd.head.text == "second" && fwd.head.createdAt.contains(T0 + 1000))
    assert(m.temporalChain("2", maxDepth = 5).map(_.memoryId) == Seq("3"))
    assert(m.temporalChain("2", maxDepth = 5, direction = "both")
      .map(_.memoryId) == Seq("1", "3"))
  }

  test("episodes mode (W11): PRODUCED + NEXT_EPISODE chains, no LEADS_TO") {
    val m = mkManager(config = MemoryConfig(userId = "alice", enableEpisodes = true))
    m.add("msg one", infer = false, runId = Some("r1"), now = Some(T0))
    m.add("msg two", infer = false, runId = Some("r1"), now = Some(T0 + 1000))
    assert(m.store.episodes.count() == 2)
    assert(m.store.edges.filter(col("edge_type") === EdgeTypes.Produced).count() == 2)
    assert(m.store.edges.filter(col("edge_type") === EdgeTypes.LeadsTo).count() == 0)
    val ne = m.store.edges.filter(col("edge_type") === EdgeTypes.NextEpisode)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ne.toSeq == Seq((1L, 2L)))
  }

  test("bitemporal: point-in-time search over validity intervals (F5)") {
    // mirrors tests/test_bitemporal.py:189-286 — two NON-expired memories
    // with explicit valid_at/invalid_at; PIT selects by validity interval
    import spark.implicits._
    val m = mkManager(config = MemoryConfig(userId = "alice"))
    val jan = 1704067200000L; val jun = 1717200000000L
    val mar = 1709251200000L; val jul = 1719792000000L
    m.add("alice works at acme", infer = false, now = Some(jan))
    m.add("alice works at globex", infer = false, now = Some(jun))
    m.store.patchMemories(
      Seq((1L, Some(jan), Some(jun)), (2L, Some(jun), None: Option[Long]))
        .toDF("id", "valid_at", "invalid_at"),
      Seq("valid_at", "invalid_at"))
    val atJul = m.search("alice works", k = 10, pointInTime = Some(jul))
      .map(_.memoryId).toSet
    assert(atJul.contains("2") && !atJul.contains("1"))
    val atMar = m.search("alice works", k = 10, pointInTime = Some(mar))
      .map(_.memoryId).toSet
    assert(atMar.contains("1") && !atMar.contains("2"))
  }

  test("bitemporal UPDATE stamps invalid_at on the superseded memory (W2)") {
    val m = mkManager(
      outputs = Seq(
        Extraction(Seq("markus joined acme"), Nil, Nil),
        Extraction(Seq("markus joined globex"), Nil, Nil)),
      decisions = Seq(
        Seq(Decision(DecisionAction.Update, "markus joined globex", Some(1L)))),
      config = MemoryConfig(userId = "alice", enableBitemporal = true,
        reconciliationThreshold = 0.0)
    )
    m.add("Markus joined Acme", now = Some(T0))
    m.add("Markus left for Globex", now = Some(T0 + 100000))
    val old = m.store.memories.filter(col("id") === 1).collect().head
    assert(old.getLong(old.fieldIndex("expired_at")) == T0 + 100000)
    // no fact_valid_at annotation → invalid_at falls back to the op ts
    assert(old.getLong(old.fieldIndex("invalid_at")) == T0 + 100000)
  }

  test("min_score filter + memory_type filter in search") {
    val m = mkManager(config = MemoryConfig(userId = "alice"))
    m.add("completely unrelated text about gardening", infer = false, now = Some(T0))
    m.add("target phrase exact", infer = false, now = Some(T0))
    val strict = m.search("target phrase exact", k = 10, minScore = Some(0.9))
    assert(strict.map(_.memoryId) == Seq("2"))
    m.add("proc item", memoryType = "procedural", infer = false, now = Some(T0))
    val typed = m.search("proc item", k = 10, memoryType = Some("procedural"))
    assert(typed.nonEmpty && typed.forall(_.memoryType == "procedural"))
  }

  test("diverse (MMR) search path returns k distinct results") {
    val m = mkManager()
    (1 to 8).foreach(i => m.add(s"note number $i", infer = false, now = Some(T0)))
    val hits = m.search("note number 1", k = 3, diverse = true)
    assert(hits.size == 3)
    assert(hits.map(_.memoryId).distinct.size == 3)
  }

  test("graph branch: entity match surfaces memory with cosine score; agreement bonus") {
    val m = mkManager(
      outputs = Seq(
        Extraction(Seq("alice works at acme"),
          Seq(ExtractedEntity("alice", "person")), Nil),
        // query-entity extraction consumes one scripted output too
        Extraction(Nil, Seq(ExtractedEntity("alice", "person")), Nil))
    )
    m.add("Alice works at Acme", now = Some(T0))
    val hits = m.search("alice", k = 5)
    assert(hits.nonEmpty)
    // memory 1 found by both branches → source both, score boosted
    assert(hits.head.memoryId == "1")
    assert(hits.head.source == "both")
  }

  test("hard delete cascades only MEMORY-endpoint edges (per-label ids overlap)") {
    val m = mkManager(outputs = Seq(
      Extraction(Seq("f1"), Seq(ExtractedEntity("e_a", "t"), ExtractedEntity("e_b", "t"),
        ExtractedEntity("e_c", "t")), Nil),
      Extraction(Seq("f2"), Seq(ExtractedEntity("e_c", "t")), Nil)))
    m.add("one", now = Some(T0))   // memory 1 -> entities 1,2,3
    m.add("two", now = Some(T0 + 1000)) // memory 2 -> entity 3
    // delete memory 3? no — delete memory 2; entity 2 exists with the
    // same id: memory-1→entity-2's HAS_ENTITY edge must SURVIVE
    assert(m.delete("2"))
    val he = m.store.edges.filter(col("edge_type") === EdgeTypes.HasEntity)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(he == Set((1L, 1L), (1L, 2L), (1L, 3L))) // only memory 2's link died
  }

  test("episode PRODUCED edges cover UPDATE events, session chain only ADDs") {
    val m = mkManager(
      outputs = Seq(
        Extraction(Seq("alice lives in paris"), Nil, Nil),
        Extraction(Seq("alice lives in rome"), Nil, Nil)),
      decisions = Seq(
        Seq(Decision(DecisionAction.Add, "alice lives in paris", None)),
        Seq(Decision(DecisionAction.Update, "alice lives in rome", Some(1L)))),
      config = MemoryConfig(userId = "alice", enableEpisodes = true))
    m.add("Alice lives in Paris", now = Some(T0))
    m.add("Alice lives in Rome", now = Some(T0 + 1000))
    // the UPDATE-created memory (id 2) must carry episode provenance
    // (manager.py:1252-1255 links every event.memory_id)
    val prov = m.getProvenance("2")
    assert(prov.map(_.episodeId) == Seq("2"))
    assert(prov.head.producedMemories == Seq("2"))
  }

  test("non-semantic adds reconcile only against their own memory type") {
    // reconciler that UPDATEs whenever ANY candidate is offered — so the
    // semantic twin survives only if type scoping kept it off the page
    val updateIfCandidate = new Reconciler {
      override def reconcile(facts: Seq[String],
          candidates: Seq[(Long, String)]): Seq[Decision] =
        facts.map { f =>
          if (candidates.nonEmpty)
            Decision(DecisionAction.Update, f, Some(candidates.head._1))
          else Decision(DecisionAction.Add, f, None)
        }
    }
    val m = new MemoryManager(spark, MemoryConfig(userId = "alice"),
      new GraphStore(spark), new MockEmbedder(16),
      new ScriptedExtractor(Seq(
        Extraction(Seq("use tabs for indentation"), Nil, Nil),
        Extraction(Seq("use tabs for indentation"), Nil, Nil))),
      updateIfCandidate)
    m.add("Use tabs", now = Some(T0)) // semantic
    // identical fact text => cosine-1 candidate if types were NOT scoped
    val r = m.add("Use tabs", memoryType = "procedural", now = Some(T0 + 1000))
    assert(r.events.map(_.event) == Seq("ADD")) // no candidates → no UPDATE
    val semantic = m.getAll().filter(_.memoryType == "semantic")
    assert(semantic.size == 1) // the semantic twin was never expired
  }

  test("summarize (W7) consolidates into a summary with DERIVED_FROM provenance") {
    val m = mkManager(config = MemoryConfig(userId = "alice",
      consolidationBatchSize = 3, consolidationPreserveRecent = 1))
    (1 to 4).foreach(i => m.add(s"old fact $i", infer = false, now = Some(T0 + i * 1000)))
    val ids = m.summarize(now = Some(T0 + 100000))
    assert(ids.size == 1) // 3 oldest batched; newest preserved
    val df = m.store.edges.filter(col("edge_type") === EdgeTypes.DerivedFrom)
    assert(df.count() == 3)
    val remaining = m.getAll().map(_.text)
    assert(remaining.contains("old fact 4"))
    assert(remaining.exists(_.startsWith("old fact 1; old fact 2; old fact 3")))
    assert(m.store.memories.filter(col("id") === 1).isEmpty) // hard-deleted
  }

  test("summarize with a multi-summary batch: one DELETE pass, full DERIVED_FROM fan-out") {
    val twoSummaries = new Summarizer {
      override def summarize(texts: Seq[String]): Seq[String] =
        Seq(texts.mkString(" + "), s"${texts.length} memories condensed")
    }
    var tick = 0L
    val m = new MemoryManager(spark,
      MemoryConfig(userId = "alice", consolidationPreserveRecent = 0),
      new GraphStore(spark), new MockEmbedder(16),
      new ScriptedExtractor(Nil), new AddAllReconciler,
      summarizer = twoSummaries,
      clock = () => { tick += 1; T0 + tick * 1000 })
    m.add("a", infer = false, now = Some(T0))
    m.add("b", infer = false, now = Some(T0 + 1000))
    val ids = m.summarize(now = Some(T0 + 5000))
    assert(ids.size == 2) // both summaries created
    // each original: exactly ONE DELETE history row (was duplicated per
    // summary before the batch-flow fix), plus its original ADD
    Seq("1", "2").foreach { orig =>
      assert(m.history(orig).map(_.event) == Seq("ADD", "DELETE"))
    }
    // every summary derives from every original (2×2 edges)
    val df = m.store.edges.filter(col("edge_type") === EdgeTypes.DerivedFrom)
    assert(df.count() == 4)
    // summaries got ADD history (manager.py:1902)
    ids.foreach(sid => assert(m.history(sid).map(_.event) == Seq("ADD")))
  }

  test("rerank (R4) applies trait scores and truncates") {
    val m = mkManager()
    (1 to 5).foreach(i => m.add(s"text $i", infer = false, now = Some(T0)))
    val hits = m.search("text", k = 3, rerank = true)
    assert(hits.size == 3)
    // HashReranker scores are deterministic — repeated call identical
    val again = m.search("text", k = 3, rerank = true)
    assert(hits.map(r => (r.memoryId, r.score)) == again.map(r => (r.memoryId, r.score)))
  }

  test("config validation rejects bad values") {
    intercept[IllegalArgumentException](MemoryConfig(userId = ""))
    intercept[IllegalArgumentException](MemoryConfig(reconciliationThreshold = 1.5))
    intercept[IllegalArgumentException](MemoryConfig(graphSearchDepth = 3))
    intercept[IllegalArgumentException](MemoryConfig(mmrLambda = -0.1))
    intercept[IllegalArgumentException](MemoryConfig(enableCommunitySummaries = true))
    assert(MemoryConfig(enableCommunitySummaries = true,
      enableGraphAlgorithms = true).enableCommunitySummaries)
  }

  test("addBatch bulk path: one append, ids sequential, history recorded") {
    val m = mkManager()
    val ids = m.addBatch(Seq("b1", "b2", "b3"), now = Some(T0))
    assert(ids == Seq("1", "2", "3"))
    assert(m.getAll().size == 3)
    assert(m.history("2").map(_.event) == Seq("ADD"))
  }

  test("filters: unknown keys use None semantics; metadata.<key> addresses JSON") {
    import graft.ops.FilterOps._
    val m = mkManager()
    m.add("tagged fact", infer = false, metadata = Some("""{"category": "work"}"""),
      now = Some(T0))
    m.add("plain fact", infer = false, now = Some(T0))
    // unknown field: Eq never matches, Ne matches everything (Python None != v)
    assert(m.search("fact", k = 10, filters = Map("no_such_prop" -> Eq("x"))).isEmpty)
    assert(m.search("fact", k = 10, filters = Map("no_such_prop" -> Ne("x"))).size == 2)
    // metadata JSON key addressing (F9 inline decode)
    val tagged = m.search("fact", k = 10,
      filters = Map("metadata.category" -> Eq("work")))
    assert(tagged.map(_.memoryId) == Seq("1"))
  }

  test("usage accumulation (A8) + grouped results (A3)") {
    val m = mkManager()
    m.add("s1 text", infer = false, sessionId = Some("sess-a"), now = Some(T0))
    m.add("s2 text", infer = false, sessionId = Some("sess-b"), now = Some(T0 + 1000))
    m.add("no session", infer = false, now = Some(T0 + 2000))
    m.search("text", k = 10)
    val u = m.usage()
    assert(u("add") == 3 && u("search") == 1)
    val grouped = m.searchGrouped("text", k = 10)
    assert(grouped.keySet == Set("sess-a", "sess-b", "default"))
    assert(grouped("sess-a").map(_.memoryId) == Seq("1"))
  }

  test("explain (R9) traces pipeline stages") {
    val m = mkManager()
    m.add("traced fact", infer = false, now = Some(T0))
    val ex = m.explain("traced fact", k = 5)
    val names = ex.steps.map(_.name)
    assert(names.contains("embed_query"))
    assert(names.contains("hybrid_search"))
    assert(names.contains("merge"))
    assert(names.last == "final")
    assert(ex.results.nonEmpty)
  }

  test("addReconcileBatch == sequential add loop on a conflict-free batch") {
    // same scripts, same seeds, same timestamp: the batched path must
    // land the identical store state — memories and history row-for-row
    // (ids included: both paths assign in decision-visit order), edges
    // as a set (edge-id interleaving differs by construction)
    val seedTexts = Seq("s one", "s two", "s three", "s four")
    val T1 = T0 + 50000
    val exts = Seq(
      Extraction(Seq("alice works at acme"), Seq(ExtractedEntity("alice", "person")), Nil),
      Extraction(Seq("bob joined beta"), Seq(ExtractedEntity("bob", "person"),
        ExtractedEntity("beta", "org")), Nil),
      Extraction(Seq("alice moved on"), Seq(ExtractedEntity("alice", "person")), Nil),
      Extraction(Seq("drop the second seed"), Nil, Nil),
      Extraction(Seq("seed three is stale", "carol joined"), Nil, Nil),
      Extraction(Nil, Seq(ExtractedEntity("dave", "person")), Nil),
      Extraction(Seq("four was early", "four was late"), Nil, Nil))
    // items 1-2 ADD, item 3 UPDATE target seed 1, item 4 DELETE seed 2,
    // item 5 UPDATE seed 3 then ADD (its UPDATE-created memory is the
    // ADD's session-chain predecessor), item 6 has no facts (so no
    // decisions and no entity), item 7 expires seed 4 twice with
    // distinct valid_at annotations (the last invalid_at wins) — all
    // targets pre-batch, no intra-batch references
    val decs = Seq(
      Seq(Decision(DecisionAction.Add, "alice works at acme", None)),
      Seq(Decision(DecisionAction.Add, "bob joined beta", None)),
      Seq(Decision(DecisionAction.Update, "alice moved on", Some(1L))),
      Seq(Decision(DecisionAction.Delete, "", Some(2L))),
      Seq(Decision(DecisionAction.Update, "seed three is stale", Some(3L)),
        Decision(DecisionAction.Add, "carol joined", None)),
      Seq(Decision(DecisionAction.Update, "four was early", Some(4L)),
        Decision(DecisionAction.Update, "four was late", Some(4L))))
    val validAt = Map("four was early" -> (T0 + 100), "four was late" -> (T0 + 200))
    val texts = Seq("m1", "m2", "m3", "m4", "m5", "m6", "m7")

    def build(batched: Boolean): GraphStore = {
      val store = new GraphStore(spark)
      val m = new MemoryManager(spark,
        MemoryConfig(userId = "alice", reconciliationThreshold = 0.0,
          enableBitemporal = true),
        store, new MockEmbedder(16),
        temporalExtractor(exts, validAt), new ScriptedReconciler(decs))
      m.addBatch(seedTexts, now = Some(T0))
      if (batched)
        m.addReconcileBatch(texts, sessionId = Some("s1"), now = Some(T1))
      else
        texts.foreach(t => m.add(t, sessionId = Some("s1"), now = Some(T1)))
      store
    }
    val seqStore = build(batched = false)
    val batStore = build(batched = true)

    val memCols = Seq("id", "text", "created_at", "expired_at", "session_id",
      "memory_type", "user_id", "valid_at", "invalid_at")
    def mems(s: GraphStore) = s.memories
      .select(memCols.head, memCols.tail: _*)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    assert(mems(seqStore).toSeq == mems(batStore).toSeq)
    def hist(s: GraphStore) = s.history
      .select("id", "memory_id", "event", "old_text", "new_text")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    assert(hist(seqStore).toSeq == hist(batStore).toSeq)
    def edgeSet(s: GraphStore) = s.edges
      .select("src", "dst", "edge_type", "props").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getMap[String, String](3).toMap)).toSet
    assert(edgeSet(seqStore) == edgeSet(batStore))
    def ents(s: GraphStore) = s.entities
      .select("id", "name").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ents(seqStore) == ents(batStore))
  }

  test("addReconcileBatch intra-batch semantics: pre-batch targets only, single expiry") {
    // an UPDATE targeting a memory created EARLIER IN THE SAME BATCH
    // must not expire it (pre-batch snapshot contract) but still creates
    // its memory + supersedes edge + UPDATE history with null old_text;
    // two decisions expiring the same pre-batch target expire it once
    val store = new GraphStore(spark)
    val exts = Seq(
      Extraction(Seq("new fact"), Nil, Nil),
      Extraction(Seq("updates the new fact"), Nil, Nil),
      Extraction(Seq("and drop seed twice"), Nil, Nil))
    val decs = Seq(
      Seq(Decision(DecisionAction.Add, "new fact", None)),           // -> id 2
      Seq(Decision(DecisionAction.Update, "updates the new fact", Some(2L))),
      Seq(Decision(DecisionAction.Delete, "", Some(1L)),
        Decision(DecisionAction.Delete, "", Some(1L))))
    val m = new MemoryManager(spark,
      MemoryConfig(userId = "alice", reconciliationThreshold = 0.0),
      store, new MockEmbedder(16),
      new ScriptedExtractor(exts), new ScriptedReconciler(decs))
    m.addBatch(Seq("seed"), now = Some(T0)) // id 1
    val rs = m.addReconcileBatch(Seq("a", "b", "c"), now = Some(T0 + 1000))
    assert(rs.map(_.events.map(_.event)) ==
      Seq(Seq("ADD"), Seq("UPDATE"), Seq("DELETE", "DELETE")))
    // id 2 (batch-created) NOT expired; id 1 expired exactly once
    val expired = store.memories.filter(col("expired_at").isNotNull)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(expired == Set(1L))
    // supersedes edge exists even though the target was intra-batch
    val sup = store.edges.filter(col("edge_type") === EdgeTypes.Supersedes)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sup.toSeq == Seq((3L, 2L)))
    // UPDATE history carries null old_text (target text unknown to the
    // pre-batch snapshot is still resolvable — id 2's text IS known?
    // no: knownTexts covers candidates; id 2 is not a candidate, and the
    // missing-target lookup hits the PRE-batch store, so old_text is null
    val upd = store.history.filter(col("event") === "UPDATE").collect().head
    assert(upd.isNullAt(upd.fieldIndex("old_text")))
    // both DELETE decisions recorded their history
    assert(store.history.filter(col("event") === "DELETE").count() == 2)
  }
}
