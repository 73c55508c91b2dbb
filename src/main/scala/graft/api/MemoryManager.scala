package graft.api

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.ext._
import graft.functions.VectorFunctions
import graft.ops._

/** The engine facade — Spark re-expression of the reference's
  * MemoryManager public API (manager.py; pipeline shapes in SURVEY §3).
  *
  * Request-driven micro-batch like the reference: one add()/search() at a
  * time per user (per-user lock, manager.py:283-284), every LLM-shaped
  * step behind an injectable trait, every data step a DataFrame op.
  * Results are collected only at the API boundary (k is small); the
  * candidate/scoring joins stay distributed — the scale path for bulk
  * ingest is [[addBatch]] (single embed call + one append).
  */
final class MemoryManager(
    val spark: SparkSession,
    val config: MemoryConfig,
    val store: GraphStore,
    embedder: Embedder,
    extractor: Extractor,
    reconciler: Reconciler,
    reranker: Option[Reranker] = None,
    summarizer: Summarizer = new ConcatSummarizer,
    vision: Vision = new HashVision,
    clock: () => Long = () => System.currentTimeMillis(),
    tracer: graft.trace.Tracer = graft.trace.NoopTracer
) {

  import MemoryTypes.{Default => DefaultType}

  /** Fact count at or below which candidate search takes the per-fact
    * TakeOrdered point path instead of the one-execution set path: n
    * single-stage jobs beat one 4-stage execution while n is small.
    */
  private val PointSearchMaxFacts = 8

  /** Mirror of the reference's `str(manager._model)` for the MCP config
    * resource (mcp/resources.py:20): the deterministic engine's analogue
    * is which extractor/embedder implementations are plugged in.
    */
  def modelDescription: String =
    s"${extractor.getClass.getSimpleName}+${embedder.getClass.getSimpleName}"

  /** Whether span instrumentation is active (resources.py:27). */
  def instrumented: Boolean = tracer != graft.trace.NoopTracer

  private val userLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(user: String): Object =
    userLocks.computeIfAbsent(user, _ => new Object)

  /** A8 — usage accumulation: per-operation call counts, the engine-side
    * analogue of the reference's RunUsage.incr (manager.py:177-193,
    * types.py:330-347; token counts live in the model clients there, so
    * the deterministic engine counts operations instead).
    */
  private val usageCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  private def usageIncr(op: String): Unit =
    usageCounts.computeIfAbsent(op, _ => new java.util.concurrent.atomic.AtomicLong())
      .incrementAndGet()
  def usage(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    usageCounts.asScala.map { case (k, v) => k -> v.get() }.toMap
  }

  // ------------------------------------------------------------------
  // scoped reads (F1/F3)
  // ------------------------------------------------------------------

  /** F3 — the configured tenant scope over memory rows. */
  private def memoryScope: Column = FilterOps.scopeFilter(config.scopeFilters)

  /** The tenant scope over entity rows: the user, plus the graph when
    * one is configured.
    */
  private def entityScope: Column = {
    val user = col("user_id") === config.userId
    config.graphName.map(g => user && col("graph_name") === g).getOrElse(user)
  }

  /** S1 — scoped label scan of memories. */
  def scopedMemories(includeExpired: Boolean = false): DataFrame = {
    val base = store.memories.filter(memoryScope)
    if (includeExpired) base else base.filter(col("expired_at").isNull)
  }

  // ------------------------------------------------------------------
  // W1/W2/W3 — add pipeline
  // ------------------------------------------------------------------

  /** W1 — one add (manager.py:197-326): the [[addReconcileBatch]]
    * pipeline over a one-item batch, so an add makes the same bounded
    * number of store mutations whatever its fact count. `infer = false`
    * stores the text verbatim as one ADD, with no extraction and no
    * candidate search. Deterministic when the injected traits and `now`
    * are.
    */
  def add(
      text: String,
      memoryType: String = DefaultType,
      sessionId: Option[String] = None,
      runId: Option[String] = None,
      actorId: Option[String] = None,
      role: Option[String] = None,
      metadata: Option[String] = None,
      infer: Boolean = true,
      now: Option[Long] = None,
      importance: Double = 1.0 // per-call base score (manager.py add importance=1.0)
  ): AddResult = lockFor(config.userId).synchronized {
    tracer.span("memory.add", Map("user" -> config.userId, "infer" -> infer.toString)) {
    usageIncr("add")
    ingest(Seq(text), infer, memoryType, sessionId, runId, actorId, role,
      metadata, now.getOrElse(clock()), importance).head
    }
  }

  /** S10 + W1 — add from message input (str | dict | list[dict] incl.
    * multimodal content parts): parse, extract actor, describe images
    * via the Vision trait when enabled (manager.py:214-224), then run
    * the normal add pipeline on the normalized text.
    */
  def addMessages(
      input: graft.sources.MessageInput,
      memoryType: String = DefaultType,
      sessionId: Option[String] = None,
      runId: Option[String] = None,
      metadata: Option[String] = None,
      infer: Boolean = true,
      now: Option[Long] = None
  ): AddResult = {
    val (text0, parsed, images) = graft.sources.Messages.parse(input)
    val (actorId, role) = graft.sources.Messages.extractActor(parsed)
    val text =
      if (images.nonEmpty && config.enableVision) {
        // a throwing Vision impl degrades to the placeholder instead of
        // losing the message (vision.py:44-55 per-image fallback)
        val descs =
          try vision.describe(images).filter(_.nonEmpty)
          catch {
            case scala.util.control.NonFatal(_) =>
              images.map(_ => "[image: undescribed]")
          }
        val imageText = descs.map(d => s"[Image: $d]").mkString("\n")
        if (text0.nonEmpty) s"$text0\n$imageText" else imageText
      } else text0
    add(text, memoryType, sessionId, runId, actorId, role, metadata, infer, now)
  }

  /** W3 — raw batch add: one embed call, one append (manager.py:381-477).
    * This is the bulk-ingest scale path.
    */
  def addBatch(
      texts: Seq[String],
      memoryType: String = DefaultType,
      sessionId: Option[String] = None,
      runId: Option[String] = None,
      now: Option[Long] = None,
      importance: Double = 1.0
  ): Seq[String] = lockFor(config.userId).synchronized {
    tracer.span("memory.add_batch", Map("n" -> texts.size.toString)) {
    usageIncr("add_batch")
    val ts = now.getOrElse(clock())
    val embs = embedder.embed(texts)
    val rows = texts.zip(embs).map { case (t, e) =>
      newMemoryRow(store.nextMemoryId(), t, Some(e), ts, memoryType,
        sessionId, runId, None, None, None, None, importance)
    }
    store.appendMemories(rows)
    val hist = rows.map(r =>
      HistoryRow(store.nextHistoryId(), r.id, "ADD", ts, None, Some(r.text), None, None))
    store.appendHistory(hist)
    // memory → History NODE edges (history ids, not the memory's own id)
    store.appendEdges(hist.map(h =>
      EdgeRow(store.nextEdgeId(), h.memory_id, h.id, EdgeTypes.HasHistory, Map.empty)))
    rows.map(_.id.toString)
    }
  }

  /** W2 at batch scale — the add pipeline (extract → embed → candidate
    * search → reconcile → SCD2 execute → graph/episode store) over a
    * batch of texts with a BOUNDED number of distributed operations,
    * independent of batch size: one embed call for all facts, ONE
    * candidate-search job, one embed call for all update texts, one
    * lookup for off-candidate targets, one lookup for inherited entity
    * edges, then one append / patch per table. The reference's loop is
    * sequential by contract (manager.py:339-343 — each add sees the
    * store its predecessors left); this is the scale alternative for
    * corpus-refresh ingest, where per-add driver round-trips dominate
    * (B6 measured the loop at ≈1 add/s; BASELINE §8). [[add]] is the
    * one-item case of the same pipeline.
    *
    * SEMANTICS (one contract for a batch and for a single add):
    *   - Candidates and reconciliation targets resolve against the
    *     PRE-BATCH store snapshot. Facts from different batch items do
    *     not see each other as candidates, and a memory created in the
    *     batch is never a target.
    *   - Decisions expiring the same target patch it once: expired_at
    *     is the batch timestamp, and in bitemporal mode the LAST such
    *     decision carrying an invalid_at sets it (a DELETE carries none)
    *     — what one patch per decision would leave. Every decision
    *     still records its own history event.
    *   - An UPDATE/DELETE whose target is absent from the pre-batch
    *     store expires nothing, but the UPDATE still creates its
    *     memory/supersedes edge/history row (with old_text = null).
    *   - An item without facts writes nothing, and an item's relations
    *     are stored only when the item also has entities.
    *   - Entity upsert is one merged first-appearance pass over the
    *     graph-scoped entities; HAS_ENTITY, RELATION and episode
    *     MENTIONS edges all use the ids it returns. Relation
    *     reconciliation consults pre-batch relation edges, and asks the
    *     reconciler only about items with existing triples around their
    *     entities.
    *   - Episode NEXT_EPISODE chains resolve the pre-batch predecessor
    *     once, then link item i to item i+1. A session LEADS_TO chain
    *     follows the reference's rule per item (manager.py:1182-1223):
    *     the predecessor of the item's first ADD is the latest
    *     (created_at, id) non-expired chain memory outside the item's
    *     ADD ids — possibly the item's own UPDATE-created memory. Its
    *     pre-batch part resolves once, after all of the batch's
    *     expiries.
    *
    * On a conflict-free batch (no item's decisions touch another item's
    * targets or chain predecessor) the store lands in the state the
    * sequential add loop leaves. Returns one [[AddResult]] per input
    * text, index-aligned.
    */
  def addReconcileBatch(
      texts: Seq[String],
      memoryType: String = DefaultType,
      sessionId: Option[String] = None,
      runId: Option[String] = None,
      actorId: Option[String] = None,
      role: Option[String] = None,
      metadata: Option[String] = None,
      now: Option[Long] = None,
      importance: Double = 1.0
  ): Seq[AddResult] = lockFor(config.userId).synchronized {
    tracer.span("memory.add_reconcile_batch", Map("n" -> texts.size.toString)) {
    usageIncr("add_reconcile_batch")
    if (texts.isEmpty) Seq.empty
    else ingest(texts, infer = true, memoryType, sessionId, runId, actorId,
      role, metadata, now.getOrElse(clock()), importance)
    }
  }

  /** The one ingest pipeline behind [[add]] and [[addReconcileBatch]];
    * its contract is documented on the latter. `infer = false` makes
    * each text one verbatim ADD fact: no extraction, temporal annotation
    * or candidate search.
    */
  private def ingest(
      texts: Seq[String],
      infer: Boolean,
      memoryType: String,
      sessionId: Option[String],
      runId: Option[String],
      actorId: Option[String],
      role: Option[String],
      metadata: Option[String],
      ts: Long,
      importance: Double
  ): Seq[AddResult] = {
    // 1. extraction per item with the reference's fallback ladder:
    // combined fails → separate facts + entities legs
    // (extraction/entities.py:96-132). An item writes graph state only
    // alongside facts, and relations only alongside entities
    val extractions = texts.map { text =>
      val ex =
        if (!infer) Extraction(Seq(text), Nil, Nil)
        else try extractor.extract(text)
        catch {
          case scala.util.control.NonFatal(_) =>
            val facts = extractor.extractFactsOnly(text)
            val (ents, rels) = extractor.extractEntitiesOnly(text)
            Extraction(facts, ents, rels)
        }
      if (ex.facts.isEmpty) Extraction(Nil, Nil, Nil)
      else if (ex.entities.isEmpty) ex.copy(relations = Nil)
      else ex
    }
    val temporal: Seq[Map[Int, TemporalAnnotation]] = extractions.map { ex =>
      if (infer && config.enableBitemporal && ex.facts.nonEmpty)
        extractor.annotateTemporal(ex.facts).map(a => a.factIndex -> a).toMap
      else Map.empty
    }

    // 2. ONE embed call over every fact of every item
    val allFacts = extractions.flatMap(_.facts)
    val allEmbs = if (allFacts.isEmpty) Seq.empty else embedder.embed(allFacts)
    val offsets = extractions.scanLeft(0)(_ + _.facts.size)

    // 3. ONE candidate search against the pre-batch store
    val perFact =
      if (infer && allFacts.nonEmpty) candidateRowsPerFact(allFacts, allEmbs, memoryType)
      else allFacts.map(_ => Seq.empty[(Long, String)])

    // 4. per-item reconcile (driver trait call, like the loop): each
    // item's candidates = its facts' rows, fact-major/rank-minor,
    // first-wins dedup WITHIN the item only
    val candsPerItem: Seq[Seq[(Long, String)]] = extractions.indices.map { i =>
      (offsets(i) until offsets(i + 1)).flatMap(perFact(_)).distinctBy(_._1)
    }
    val decisionsPerItem: Seq[Seq[Decision]] = extractions.zipWithIndex.map {
      case (ex, i) =>
        if (candsPerItem(i).isEmpty)
          // fast path: nothing to reconcile against → all ADD without a
          // model call (reconciliation/memories.py:88-90); a factless
          // item has no candidates and so no decisions
          ex.facts.map(f => Decision(DecisionAction.Add, f, None))
        else reconciler.reconcile(ex.facts, candsPerItem(i))
    }

    // 5. batched resolution of everything the executor needs:
    //    update-text embeddings (one call), off-candidate target texts
    //    (one lookup), inherited entity edges (one lookup)
    val updateTexts = decisionsPerItem.flatten.collect {
      case d if d.action == DecisionAction.Update && d.targetMemoryId.nonEmpty => d.text
    }
    val updateEmbs =
      if (updateTexts.isEmpty) Iterator.empty else embedder.embed(updateTexts).iterator
    val knownTexts: Map[Long, String] = candsPerItem.flatten.toMap
    val targets = decisionsPerItem.flatten
      .collect { case d if d.targetMemoryId.nonEmpty &&
        d.action != DecisionAction.Add && d.action != DecisionAction.None =>
        d.targetMemoryId.get }.distinct
    val missingTargets = targets.filterNot(knownTexts.contains)
    val fetchedTexts: Map[Long, String] =
      if (missingTargets.isEmpty) Map.empty
      else store.memories.filter(col("id").isin(missingTargets: _*))
        .select(col("id"), col("text")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val targetText: Map[Long, String] = knownTexts ++ fetchedTexts
    val updTargets = decisionsPerItem.flatten.collect {
      case d if d.action == DecisionAction.Update && d.targetMemoryId.nonEmpty =>
        d.targetMemoryId.get }.distinct
    // J10 — a superseding memory inherits its target's HAS_ENTITY edges
    // (manager.py:1153-1180)
    val inheritedEnts: Map[Long, Seq[Long]] =
      if (updTargets.isEmpty) Map.empty
      else store.edges
        .filter(col("edge_type") === EdgeTypes.HasEntity &&
          col("src").isin(updTargets: _*))
        .select(col("src"), col("dst")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct }

    // 6. the SCD2 decision executor (manager.py:854-1035), ON THE
    // DRIVER, accumulating rows; memory/history ids are assigned in the
    // sequential loop's visit order, so a conflict-free batch lands with
    // identical ids
    val newMems = Vector.newBuilder[MemoryRow]
    val histRows = Vector.newBuilder[HistoryRow]
    val newEdges = Vector.newBuilder[EdgeRow]
    val expiries = scala.collection.mutable.LinkedHashMap.empty[Long, Option[Long]]
    val eventsPerItem = scala.collection.mutable.ArrayBuffer.empty[Seq[MemoryEvent]]
    val createdPerItem = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]

    def mkMemory(text: String, emb: Option[Array[Float]],
        validAt: Option[Long]): Long = {
      emb.foreach { e =>
        require(e.isEmpty || e.length == config.embeddingDimensions,
          s"embedding dimension ${e.length} != configured ${config.embeddingDimensions}")
      }
      val id = store.nextMemoryId()
      newMems += newMemoryRow(id, text, emb, ts, memoryType, sessionId,
        runId, actorId, role, metadata, validAt, importance)
      id
    }
    def mkHistory(event: String, memoryId: Long, oldText: Option[String],
        newText: Option[String]): Unit = {
      val hid = store.nextHistoryId()
      histRows += HistoryRow(hid, memoryId, event, ts, oldText, newText,
        actorId, role)
      newEdges += EdgeRow(store.nextEdgeId(), memoryId, hid,
        EdgeTypes.HasHistory, Map.empty)
    }
    // W6 — soft expiry; invalid_at only in bitemporal mode
    // (manager.py:1130-1151). Returns the old text.
    def expire(target: Long, invalidAt: Option[Long]): Option[String] = {
      val known = targetText.get(target)
      if (known.isDefined) {
        val inv = if (config.enableBitemporal) invalidAt else None
        expiries(target) = inv.orElse(expiries.get(target).flatten)
      }
      known
    }

    decisionsPerItem.zipWithIndex.foreach { case (decisions, item) =>
      val events = scala.collection.mutable.ArrayBuffer.empty[MemoryEvent]
      val created = scala.collection.mutable.ArrayBuffer.empty[Long]
      val itemEmbs = allEmbs.slice(offsets(item), offsets(item + 1))
      decisions.zipWithIndex.foreach { case (d, i) =>
        val factValidAt = temporal(item).get(i).flatMap(_.validAt)
        d.action match {
          case DecisionAction.Update if d.targetMemoryId.nonEmpty =>
            val target = d.targetMemoryId.get
            val oldText = expire(target, Some(factValidAt.getOrElse(ts)))
            val id = mkMemory(d.text, Some(updateEmbs.next()), factValidAt)
            newEdges += EdgeRow(store.nextEdgeId(), id, target,
              EdgeTypes.Supersedes, Map.empty)
            inheritedEnts.getOrElse(target, Nil).foreach(e =>
              newEdges += EdgeRow(store.nextEdgeId(), id, e,
                EdgeTypes.HasEntity, Map.empty))
            mkHistory("UPDATE", id, oldText, Some(d.text))
            events += MemoryEvent("UPDATE", Some(id.toString), d.text, oldText)
            created += id
          case DecisionAction.Add | DecisionAction.Update =>
            // UPDATE without target downgrades to ADD (manager.py:910-943)
            val id = mkMemory(d.text, itemEmbs.lift(i), factValidAt)
            mkHistory("ADD", id, None, Some(d.text))
            events += MemoryEvent("ADD", Some(id.toString), d.text)
            created += id
          case DecisionAction.Delete if d.targetMemoryId.nonEmpty =>
            val target = d.targetMemoryId.get
            val oldText = expire(target, None)
            mkHistory("DELETE", target, oldText, None)
            events += MemoryEvent("DELETE", Some(target.toString),
              oldText.getOrElse(""), oldText)
          case _ => () // NONE; DELETE without target is skipped (manager.py:1003)
        }
      }
      eventsPerItem += events.toSeq
      createdPerItem += created.toSeq
    }

    // 7. W9/W10 graph store (manager.py:1646-1767), batched: one merged
    // first-appearance entity upsert (conflict-free ids equal the
    // sequential loop's); every event memory of an item links to every
    // entity of the item; relation reconciliation vs the PRE-BATCH
    // relation edges with one delete + one append
    val entityIds = upsertEntities(extractions.flatMap(_.entities))
    val itemEntIds: Seq[Map[String, Long]] =
      extractions.map(_.entities.map(e => e.name -> entityIds(e.name)).toMap)
    val itemEntSorted = itemEntIds.map(_.values.toSeq.sorted)
    extractions.indices.foreach { item =>
      for {
        m <- eventsPerItem(item).flatMap(_.memoryId).map(_.toLong)
        e <- itemEntSorted(item)
      } newEdges += EdgeRow(store.nextEdgeId(), m, e, EdgeTypes.HasEntity,
        Map.empty)
    }
    val itemsWithRels = extractions.indices.filter(extractions(_).relations.nonEmpty)
    if (itemsWithRels.nonEmpty) {
      val existing = existingRelations(itemsWithRels.flatMap(itemEntSorted(_)).distinct)
      val names =
        if (existing.isEmpty) Map.empty[Long, String]
        else store.entities
          .filter(col("id").isin(existing.flatMap(e => Seq(e._2, e._3)).distinct: _*))
          .select(col("id"), col("name")).collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
      // the reconciler picks existing triples to drop; delete the FIRST
      // matching edge per rejected (source, target, relation_type)
      val deleteIds = itemsWithRels.flatMap { item =>
        val ids = itemEntSorted(item).toSet
        val itemTriples = existing.filter(e => ids.contains(e._2))
          .map { case (eid, s, t, rt) =>
            (eid, ExtractedRelation(names.getOrElse(s, s.toString),
              names.getOrElse(t, t.toString), rt)) }
        if (itemTriples.isEmpty) Nil
        else reconciler.reconcileRelations(extractions(item).relations,
            itemTriples.map(_._2)).flatMap { d =>
          itemTriples.find { case (_, r) =>
            r.source == d.source && r.target == d.target &&
              r.relationType == d.relationType
          }.map(_._1)
        }
      }.distinct
      store.deleteEdgesById(deleteIds)
      itemsWithRels.foreach { item =>
        extractions(item).relations.foreach { r =>
          for {
            s <- itemEntIds(item).get(r.source)
            t <- itemEntIds(item).get(r.target)
          } newEdges += EdgeRow(store.nextEdgeId(), s, t, EdgeTypes.Relation,
            Map("relation_type" -> r.relationType))
        }
      }
    }

    // 8. ONE append per table + at most two expiry patches (with and
    // without bitemporal invalid_at)
    store.appendMemories(newMems.result())
    if (expiries.nonEmpty) {
      import spark.implicits._
      val (bi, plain) = expiries.toSeq.partition(_._2.isDefined)
      if (plain.nonEmpty)
        store.patchMemories(
          plain.map { case (id, _) => (id, ts) }.toDF("id", "expired_at"),
          Seq("expired_at"))
      if (bi.nonEmpty)
        store.patchMemories(
          bi.map { case (id, inv) => (id, ts, inv.get) }
            .toDF("id", "expired_at", "invalid_at"),
          Seq("expired_at", "invalid_at"))
    }
    store.appendHistory(histRows.result())

    // 9. W11/J11 — episodes with PRODUCED/MENTIONS/NEXT_EPISODE, or the
    // LEADS_TO session chain (manager.py:1182-1307). The chain key must
    // match what newMemoryRow STORES in run_id (runId.orElse(config.runId))
    // or the predecessor lookup never matches when config.runId is set;
    // reference: config.run_id or sid (manager.py:314)
    val chainKey = runId.orElse(config.runId).orElse(sessionId)
    if (config.enableEpisodes) {
      var prevEp: Option[Long] =
        chainKey.filter(_ => eventsPerItem.exists(_.nonEmpty)).flatMap { key =>
          store.episodes
            .filter(col("user_id") === config.userId &&
              (col("run_id") === key ||
                (col("run_id").isNull && col("session_id") === key)))
            .orderBy(col("created_at").desc, col("id").desc)
            .select(col("id")).collect().headOption.map(_.getLong(0))
        }
      val epRows = Vector.newBuilder[EpisodeRow]
      texts.indices.foreach { item =>
        // episode creation needs events; its PRODUCED edges cover EVERY
        // event carrying a memory id (manager.py:316, 1252-1255). Rows
        // store the EFFECTIVE run id, which the chain lookup matches
        if (eventsPerItem(item).nonEmpty) {
          val epId = store.nextEpisodeId()
          epRows += EpisodeRow(epId, texts(item), "message", config.userId,
            ts, sessionId, runId.orElse(config.runId))
          val prodIds = eventsPerItem(item).flatMap(_.memoryId).map(_.toLong).distinct
          prodIds.foreach(m => newEdges += EdgeRow(store.nextEdgeId(), epId,
            m, EdgeTypes.Produced, Map.empty))
          itemEntSorted(item).foreach(e => newEdges += EdgeRow(store.nextEdgeId(),
            epId, e, EdgeTypes.Mentions, Map.empty))
          if (chainKey.nonEmpty) {
            prevEp.foreach(p => newEdges += EdgeRow(store.nextEdgeId(), p,
              epId, EdgeTypes.NextEpisode, Map.empty))
            prevEp = Some(epId)
          }
        }
      }
      store.appendEpisodes(epRows.result())
    } else chainKey.foreach { key =>
      // session chains link only ADD events (manager.py:315)
      val addIds = eventsPerItem.map(_.filter(_.event == "ADD")
        .flatMap(_.memoryId).map(_.toLong))
      if (addIds.exists(_.nonEmpty)) {
        // batch-created rows all carry ts, so among them the highest id
        // is the latest
        val preBatch: Option[(Long, Long)] = scopedMemories()
          .filter(!col("id").isin(createdPerItem.flatten.toSeq: _*) &&
            (coalesce(col("run_id"), col("session_id")) === key))
          .orderBy(col("created_at").desc, col("id").desc)
          .select(col("created_at"), col("id")).collect().headOption
          .map(r => (r.getLong(0), r.getLong(1)))
        var earlier: Option[Long] = None // latest memory of earlier items
        texts.indices.foreach { item =>
          val adds = addIds(item)
          if (adds.nonEmpty) {
            val batchPrev =
              (earlier ++ createdPerItem(item).filterNot(adds.contains)).maxOption
            val prev = (preBatch ++ batchPrev.map(ts -> _)).maxOption.map(_._2)
            // sequence numbering mirrors manager.py:1211-1221: prev→new[0]
            // is 0; new[i]→new[i+1] is ALWAYS i+1 (even without a prev)
            prev.foreach(p => newEdges += EdgeRow(store.nextEdgeId(), p,
              adds.head, EdgeTypes.LeadsTo, Map("sequence" -> "0")))
            adds.sliding(2).zipWithIndex.foreach {
              case (Seq(a, b), i) => newEdges += EdgeRow(store.nextEdgeId(),
                a, b, EdgeTypes.LeadsTo, Map("sequence" -> (i + 1).toString))
              case _ => ()
            }
          }
          earlier = (earlier ++ createdPerItem(item)).maxOption
        }
      }
    }
    store.appendEdges(newEdges.result())
    eventsPerItem.map(AddResult(_)).toSeq
  }

  /** J12 — reconciliation-candidate search (search/vector.py:294-348):
    * rank-ordered top-k cosine rows above the threshold over the user's
    * non-expired memories for EACH fact (index-aligned with `facts`),
    * before any cross-fact dedup — facts from different batch items must
    * not dedup against each other.
    */
  private def candidateRowsPerFact(
      facts: Seq[String],
      embeddings: Seq[Array[Float]],
      memoryType: String
  ): Seq[Seq[(Long, String)]] = tracer.span("memory.candidate_search",
      Map("facts" -> facts.size.toString)) {
    // non-semantic adds reconcile only against their own type
    // (manager.py:279-292 similar_filters) — a procedural fact must
    // never expire a similar SEMANTIC memory
    val mem0 = scopedMemories()
    val mem =
      if (memoryType == MemoryTypes.Semantic) mem0
      else mem0.filter(FilterOps.memoryType(col("memory_type"), memoryType))
    val k = config.reconciliationCandidates
    if (embeddings.size <= PointSearchMaxFacts) {
      // POINT path (the interactive add: 1-few facts). Per fact, one
      // single-stage job — scan → codegen'd cosine against the literal
      // query embedding → threshold filter → TakeOrderedAndProject
      // (per-partition heaps, driver merge of p·k rows). No broadcast
      // build, no crossjoin, no window shuffle, no join-back: this is
      // the whole per-add latency story of BASELINE §8, and it is also
      // the correct distributed top-k shape at 100 TB. Threshold-then-
      // top-k equals the set path's top-k-then-threshold: both keep
      // the best ≤k candidates at or above the threshold.
      embeddings.map { e =>
        mem.select(col("id"), col("text"),
            VectorFunctions.cosineSimilarity(col("embedding"), typedLit(e))
              .as("cosine"))
          // reference similarity is max(0, 1-distance), never negative
          .filter(greatest(lit(0.0), col("cosine")) >= config.reconciliationThreshold)
          .orderBy(col("cosine").desc, col("id").asc)
          .limit(k)
          .select(col("id"), col("text"))
          .collect()
          .map(r => r.getLong(0) -> r.getString(1)).toSeq
      }
    } else {
      // SET path (big extraction batches): one execution for all facts —
      // crossjoin + per-query window beats fact-count sequential jobs.
      // Candidate texts ride the same job via a join back to the
      // (checkpointed, in-memory) memory table; an empty store just
      // collects zero rows, no up-front isEmpty probe.
      import spark.implicits._
      val queries = embeddings.zipWithIndex.map { case (e, i) => (i, e) }
        .toDF("fact_idx", "q_emb")
      val rows = SimilarityOps
        .bruteForceTopK(mem, "id", "embedding", broadcast(queries),
          "fact_idx", "q_emb", k, excludeSelf = false)
        .filter(greatest(lit(0.0), col("cosine")) >= config.reconciliationThreshold)
        .join(mem.select(col("id").as("neighbor_id"), col("text")), Seq("neighbor_id"))
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("text"))
        .collect()
      // (query_id, rank) driver sort then group per fact: ≤ k·facts
      // rows, not worth a global-sort exchange
      val byFact = rows.sortBy(r => (r.getInt(0), r.getInt(1)))
        .map(r => (r.getInt(0), r.getLong(2) -> r.getString(3)))
        .groupBy(_._1)
      embeddings.indices.map(i =>
        byFact.getOrElse(i, Array.empty).map(_._2).toSeq)
    }
  }

  private def newMemoryRow(
      id: Long,
      text: String,
      embedding: Option[Array[Float]],
      ts: Long,
      memoryType: String,
      sessionId: Option[String],
      runId: Option[String],
      actorId: Option[String],
      role: Option[String],
      metadata: Option[String],
      validAt: Option[Long],
      importance: Double = 1.0
  ): MemoryRow =
    MemoryRow(
      id = id, text = text, user_id = config.userId,
      created_at = ts, updated_at = ts, learned_at = ts,
      memory_type = memoryType,
      valid_at = validAt, invalid_at = None, expired_at = None,
      session_id = sessionId, agent_id = config.agentId,
      run_id = runId.orElse(config.runId), graph_name = config.graphName,
      metadata = metadata, actor_id = actorId, role = role,
      importance = if (config.enableImportance) Some(importance) else None,
      access_count = if (config.enableImportance) Some(0L) else None,
      last_accessed = None,
      embedding = embedding.getOrElse(Array.empty[Float]),
      source = None
    )

  private def createMemory(
      text: String,
      embedding: Option[Array[Float]],
      ts: Long,
      memoryType: String,
      sessionId: Option[String],
      runId: Option[String],
      actorId: Option[String],
      role: Option[String],
      metadata: Option[String],
      validAt: Option[Long],
      importance: Double = 1.0
  ): Long = {
    embedding.foreach { e =>
      require(e.isEmpty || e.length == config.embeddingDimensions,
        s"embedding dimension ${e.length} != configured ${config.embeddingDimensions}")
    }
    val id = store.nextMemoryId()
    store.appendMemories(Seq(newMemoryRow(id, text, embedding, ts,
      memoryType, sessionId, runId, actorId, role, metadata, validAt, importance)))
    id
  }

  /** W8 — history entry as a History node + HAS_HISTORY edge
    * (history.py:28-60; the non-CDC fallback path is the faithful one).
    */
  private def recordHistory(
      event: String,
      memoryId: Long,
      ts: Long,
      oldText: Option[String],
      newText: Option[String],
      actorId: Option[String],
      role: Option[String]
  ): Unit = {
    val hid = store.nextHistoryId()
    store.appendHistory(Seq(HistoryRow(hid, memoryId, event, ts, oldText,
      newText, actorId, role)))
    store.appendEdges(Seq(EdgeRow(store.nextEdgeId(), memoryId, hid,
      EdgeTypes.HasHistory, Map.empty)))
  }

  /** W9 — BATCHED entity upsert: one lookup join for every entity of the
    * add and one append for all the misses, replacing the reference's
    * per-entity probe loop (manager.py:1646-1680) — bulk ingest was
    * paying one Spark job per entity per message.
    */
  private def upsertEntities(ents: Seq[ExtractedEntity]): Map[String, Long] = {
    if (ents.isEmpty) return Map.empty
    val names = ents.map(_.name).distinct
    val existing = store.entities
      .filter(entityScope && col("name").isin(names: _*))
      .groupBy(col("name")).agg(min(col("id")).as("id")) // deterministic pick
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // first occurrence wins, extraction order preserved (ids are
    // assigned in the order the extractor emitted the entities, exactly
    // like the per-entity loop did)
    val missing = ents.filter(e => !existing.contains(e.name))
      .foldLeft(Vector.empty[ExtractedEntity]) { (acc, e) =>
        if (acc.exists(_.name == e.name)) acc else acc :+ e
      }
    val created = missing.map(e => e.name -> (store.nextEntityId(), e.entityType))
    store.appendEntities(created.map { case (n, (id, t)) =>
      EntityRow(id, n, t, config.userId, config.graphName)
    })
    existing ++ created.map { case (n, (id, _)) => n -> id }
  }

  /** J5 — E→E relation scan around a set of entities. */
  private def existingRelations(entityIds: Seq[Long]): Seq[(Long, Long, Long, String)] =
    store.edges
      .filter(col("edge_type") === EdgeTypes.Relation &&
        col("src").isin(entityIds: _*))
      .select(col("edge_id"), col("src"), col("dst"), col("props"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getMap[String, String](3).getOrElse("relation_type", "")))
      .toSeq


  // ------------------------------------------------------------------
  // G1-G4 — whole-graph metrics + communities (manager.py:1585-1644,
  // communities.py:32-200). Lazy: recomputed at search time when the
  // store's write-version moved (the reference's dirty flag).
  // ------------------------------------------------------------------

  // per-label id spaces → global node keys for cross-label graph algos
  private val MemC = 0L; private val EntC = 1L; private val EpiC = 2L
  private val ComC = 3L; private val HisC = 4L
  private def gkey(idCol: org.apache.spark.sql.Column, code: Long) =
    idCol * 8L + code

  /** Edges with label-space-disambiguated endpoints. */
  private[graft] def globalEdges: DataFrame = {
    val srcCode = typedCode("src")
    val dstCode = typedCode("dst")
    store.edges.select(
      (col("src") * 8L + srcCode).as("src"),
      (col("dst") * 8L + dstCode).as("dst"))
  }
  private def typedCode(side: String) = {
    val t = col("edge_type")
    val isSrc = side == "src"
    when(t === EdgeTypes.HasEntity, if (isSrc) MemC else EntC)
      .when(t === EdgeTypes.Relation, EntC)
      .when(t === EdgeTypes.Supersedes, MemC)
      .when(t === EdgeTypes.DerivedFrom, MemC)
      .when(t === EdgeTypes.LeadsTo, MemC)
      .when(t === EdgeTypes.Produced, if (isSrc) EpiC else MemC)
      .when(t === EdgeTypes.Mentions, if (isSrc) EpiC else EntC)
      .when(t === EdgeTypes.NextEpisode, EpiC)
      .when(t === EdgeTypes.HasMember, if (isSrc) ComC else EntC)
      .when(t === EdgeTypes.HasHistory, if (isSrc) MemC else HisC)
      .otherwise(lit(7L))
  }

  private var metricsVersion = -1L

  // ---- search-path metric memos -----------------------------------
  // topology and reinforcement are WHOLE-GRAPH aggregations; computing
  // them per search (the pre-r9 shape) re-aggregates the full edge
  // table on every query — the wrong shape at 100 TB, where metric
  // refresh must amortize across reads. Both memoize on the exact
  // store versions their inputs depend on: topology reads only
  // HAS_ENTITY edges (graphVersion); reinforcement additionally reads
  // (created_at, importance) of memories — created_at is immutable and
  // an edgeless new memory can't shift any other memory's score, so
  // (graphVersion, importanceVersion) is a precise key. bumpAccess
  // deliberately invalidates neither (the r6 dirty-flag rationale).
  private var topoMemoKey = -1L
  private var topoMemo: DataFrame = _
  private def topologyScoresDf(): DataFrame = this.synchronized {
    if (store.graphVersion != topoMemoKey) {
      topoMemo = GraphOps.topologyScores(
          store.edges.filter(col("edge_type") === EdgeTypes.HasEntity))
        .select(col("mem"), col("topology_score"))
        .localCheckpoint()
      topoMemoKey = store.graphVersion
    }
    topoMemo
  }
  // BM25 prepared corpus (the text-index artifact): the tokenized
  // (id, dl, toks) table + corpus stats, keyed on textVersion so only
  // text-row changes (append/delete/text-patch/load) rebuild it —
  // pre-r9 every search re-tokenized the whole store for its BM25 leg
  private var bm25MemoKey = -1L
  private var bm25Memo: (DataFrame, Long, Double) = _
  private def bm25PreparedState(): (DataFrame, Long, Double) = this.synchronized {
    if (store.textVersion != bm25MemoKey) {
      val base =
        if (config.scopedHybridCandidates) store.memories.filter(memoryScope)
        else store.memories
      bm25Memo = SearchOps.bm25Prepare(base, "id", "text")
      bm25MemoKey = store.textVersion
    }
    bm25Memo
  }

  private var reinfMemoKey = (-1L, -1L)
  private var reinfMemo: DataFrame = _
  private def reinforcementDf(): DataFrame = this.synchronized {
    val key = (store.graphVersion, store.importanceVersion)
    if (key != reinfMemoKey) {
      reinfMemo = GraphOps.reinforcement(
          store.memories.select(col("id"), col("created_at"), col("importance")),
          store.edges.filter(col("edge_type") === EdgeTypes.HasEntity),
          config.structuralFeedbackGamma)
        .localCheckpoint()
      reinfMemoKey = key
    }
    reinfMemo
  }

  /** G1+G2+G3 — recompute and cache metric columns on Memory rows when
    * the EDGE TOPOLOGY changed since the last recompute (graphVersion,
    * not writeVersion: access-count bumps and property patches must not
    * retrigger whole-graph analytics on every search).
    */
  def recomputeGraphMetricsIfDirty(): Unit =
    if (config.enableGraphAlgorithms && store.graphVersion != metricsVersion)
      tracer.span("memory.graph_metrics_recompute") {
      val ge = globalEdges.localCheckpoint()
      if (!ge.isEmpty) {
        // ONE sizing job for the whole refresh (exact node count + an
        // edge upper bound): gates both the betweenness plan choice and
        // the community driver-vs-distributed choice
        val sized = ge.select(explode(array(col("src"), col("dst"))).as("node"))
          .agg(countDistinct(col("node")).as("n"),
            (count(lit(1)) / 2).cast("long").as("m"))
          .collect()(0)
        val (n, mUpper) = (sized.getLong(0), sized.getLong(1))
        val pr = GraphAlgorithms.pageRank(ge)
        val bc = scaledBetweenness(ge, n, mUpper)
        val lp = communityPartition(ge, n)
        val memMetrics = pr
          .join(bc, Seq("node"), "full_outer")
          .join(lp, Seq("node"), "full_outer")
          .filter(pmod(col("node"), lit(8L)) === MemC)
          .select(((col("node") - MemC) / 8L).cast("long").as("id"),
            col("pagerank"), col("betweenness"), col("community"))
        store.patchMemories(memMetrics, Seq("pagerank", "betweenness", "community"))
        if (config.enableCommunitySummaries) materializeCommunities(lp)
      }
      metricsVersion = store.graphVersion
    }

  /** Exact Brandes below the node bound; above it, pivot-sampled roots
    * (deterministic md5-ordered draw over the node ids) with the |V|/|S|
    * Brandes–Pich scale-up — the write path's metric refresh stays
    * bounded at O(|S|·E) instead of O(V·E) on a grown graph.
    */
  private def scaledBetweenness(ge: DataFrame, n: Long, mUpper: Long): DataFrame = {
    val nodes = ge.select(col("src").as("node"))
      .unionByName(ge.select(col("dst").as("node")))
      .distinct()
    // (n, mUpper) sized once by the caller for the whole refresh —
    // threaded into betweenness() so it skips its own two eager
    // count() jobs (VERDICT r5 #7); mUpper is raw rows / 2, an upper
    // bound that only gates the broadcast-vs-waves choice.
    if (n <= config.betweennessExactMaxNodes)
      GraphAlgorithms.betweenness(ge, knownCounts = Some((n, mUpper)))
    else {
      // deterministic md5-ordered pivots (uniform over the id space,
      // engine-replayable) — one TakeOrderedAndProject, never a global
      // window over the node set
      val roots = GraphOps.samplePivots(nodes, config.betweennessSampleRoots)
      val actualRoots = roots.count().toDouble
      val sampled = GraphAlgorithms.betweenness(ge, Some(roots),
        knownCounts = Some((n, mUpper)))
      sampled.withColumn("betweenness",
        col("betweenness") * lit(n.toDouble / math.max(1.0, actualRoots)))
    }
  }

  /** G4 — materialize entity communities (≥ 2 scoped members) as
    * Community nodes + HAS_MEMBER edges; unchanged membership is kept,
    * dissolved communities are deleted (communities.py:32-200).
    *
    * The changed-vs-unchanged diff is DISTRIBUTED — a join of this run's
    * (community, member_count) aggregate against the stored communities —
    * so only the changed clusters (the set that needs a summarizer call
    * per cluster anyway) ever collect their members to the driver. A
    * tenant with millions of entities in stable communities costs one
    * aggregation, not a driver materialization. Returns the number of
    * clusters re-summarized (0 == nothing reached the driver).
    */
  private[graft] def materializeCommunities(lp: DataFrame): Int = {
    import org.apache.spark.sql.functions.broadcast
    val entComm = lp.filter(pmod(col("node"), lit(8L)) === EntC)
      .select(((col("node") - EntC) / 8L).cast("long").as("ent_id"),
        col("community"))
    // feeds both the count diff and the changed-member fetch: one compute
    val memberTbl = entComm
      .join(store.entities.filter(entityScope).select(col("id").as("ent_id"), col("name")), "ent_id")
      .select(col("community"), col("ent_id"), col("name"))
      .localCheckpoint()
    val counts = memberTbl.groupBy(col("community"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)
    val existingDf = store.communities
      .filter(col("user_id") === config.userId)
      .select(col("id").as("row_id"), col("community_id").as("community"),
        col("member_count"))
    // new or size-changed clusters only — the LLM-bound set
    val changed = counts.join(existingDf, Seq("community"), "left")
      .filter(col("row_id").isNull || col("member_count") =!= col("n"))
      .select(col("community"), col("row_id"))
      .collect()
    val ts = clock()
    if (changed.nonEmpty) {
      import spark.implicits._
      val changedDf = changed.map(_.getLong(0)).toSeq.toDF("community")
      val changedMembers = memberTbl
        .join(broadcast(changedDf), Seq("community"), "left_semi")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .groupBy(_._1)
      changed.foreach { row =>
        val commId = row.getLong(0)
        if (!row.isNullAt(1)) store.deleteCommunities(Seq(row.getLong(1)))
        val ms = changedMembers.getOrElse(commId, Array.empty[(Long, Long, String)])
        val names = ms.map(_._3).sorted
        val (name, summary) = summarizer.describeCommunity(names.toSeq, Nil)
        val cid = store.nextCommunityId()
        store.appendCommunities(Seq(CommunityRow(cid, name, summary, commId,
          ms.length.toLong, config.userId, ts, ts)))
        store.appendEdges(ms.map { case (_, ent, _) =>
          EdgeRow(store.nextEdgeId(), cid, ent, EdgeTypes.HasMember, Map.empty)
        }.toSeq)
      }
    }
    // dissolved: stored communities whose id no longer has a >=2-member
    // group — an anti-join; only ids reach the driver
    val dissolved = existingDf.join(counts, Seq("community"), "left_anti")
      .select(col("row_id")).collect().map(_.getLong(0))
    if (dissolved.nonEmpty) store.deleteCommunities(dissolved.toSeq)
    changed.length
  }

  /** Test hook: recompute LPA over the current graph and re-materialize
    * communities, returning how many clusters were re-summarized — the
    * observable that the unchanged-cluster path never collects members.
    */
  private[graft] def refreshCommunities(): Int = {
    val ge = globalEdges.localCheckpoint()
    if (ge.isEmpty) 0
    else {
      val n = ge.select(explode(array(col("src"), col("dst"))).as("node"))
        .agg(countDistinct(col("node"))).collect()(0).getLong(0)
      materializeCommunities(communityPartition(ge, n))
    }
  }

  /** G3 partition for the manager graph (the reference runs Louvain at
    * this exact point, manager.py:1633-1642). Two physical plans by
    * graph size, measured in CommunityDefaultStudy / BASELINE §7b:
    * at or below `communityExactMaxNodes` the reference's own
    * sequential Louvain runs on the driver (bounded collect — exact
    * lifecycle fidelity for small tenants, and immune to the
    * synchronous refinement's tiny-graph swap-oscillation); above it,
    * distributed LPA refined by the Louvain phase-1 local-moving pass
    * with the majority burst ON — the configuration that reproduced
    * sequential Louvain's partition on the multi-session AND
    * hub-flooded families (without the burst a flooded seed is a
    * fixpoint local moving cannot split: Q 0.20 vs Louvain's 0.60).
    * `communityRefineRounds = 0` opts out to raw LPA everywhere.
    */
  private def communityPartition(ge: DataFrame, nNodes: Long): DataFrame =
    if (config.communityRefineRounds <= 0) GraphAlgorithms.labelPropagation(ge)
    else if (nNodes <= config.communityExactMaxNodes)
      GraphAlgorithms.louvainDriver(ge)
    else GraphAlgorithms.refineCommunities(ge,
      GraphAlgorithms.labelPropagation(ge), config.communityRefineRounds)

  /** Community read API (communities.py:203-238). */
  def getCommunities(): Seq[(String, String, Long)] =
    store.communities.filter(col("user_id") === config.userId)
      .orderBy(col("id"))
      .select(col("name"), col("summary"), col("member_count"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq

  // ------------------------------------------------------------------
  // search pipeline (§3.1)
  // ------------------------------------------------------------------

  def search(
      query: String,
      k: Int = 10,
      filters: Map[String, FilterOps.Pred] = Map.empty,
      rerank: Boolean = false,
      memoryType: Option[String] = None,
      minScore: Option[Double] = None,
      timeAfter: Option[Long] = None,
      timeBefore: Option[Long] = None,
      includeExpired: Boolean = false,
      diverse: Boolean = false,
      pointInTime: Option[Long] = None,
      now: Option[Long] = None
  ): Seq[SearchResult] =
    searchImpl(query, k, filters, rerank, memoryType, minScore, timeAfter,
      timeBefore, includeExpired, diverse, pointInTime, now, trace = None)

  /** R9 — explain: the same pipeline with per-stage observations. */
  def explain(
      query: String,
      k: Int = 10,
      filters: Map[String, FilterOps.Pred] = Map.empty,
      rerank: Boolean = false,
      memoryType: Option[String] = None,
      minScore: Option[Double] = None,
      diverse: Boolean = false
  ): ExplainResult = {
    val trace = scala.collection.mutable.ArrayBuffer.empty[ExplainStep]
    val results = searchImpl(query, k, filters, rerank, memoryType, minScore,
      None, None, includeExpired0 = false, diverse, None, None, Some(trace))
    trace += ExplainStep("final", s"top=${results.take(3).map(_.memoryId).mkString(",")}",
      results.size.toLong)
    ExplainResult(trace.toSeq, results)
  }

  private def searchImpl(
      query: String,
      k: Int,
      filters: Map[String, FilterOps.Pred],
      rerank: Boolean,
      memoryType: Option[String],
      minScore: Option[Double],
      timeAfter: Option[Long],
      timeBefore: Option[Long],
      includeExpired0: Boolean,
      diverse: Boolean,
      pointInTime: Option[Long],
      now: Option[Long],
      trace: Option[scala.collection.mutable.ArrayBuffer[ExplainStep]]
  ): Seq[SearchResult] = tracer.span("memory.search",
      Map("user" -> config.userId, "k" -> k.toString)) {
    usageIncr("search")
    recomputeGraphMetricsIfDirty() // lazy G1-G4 maintenance (manager.py:541-549)
    val hints = TemporalOps.detectTemporalHints(query)
    val includeExpired = includeExpired0 || hints.includeExpired
    val effectiveK = if (hints.expandLimit) k * 2 else k
    val queryVec = embedder.embedOne(query)
    trace.foreach(_ += ExplainStep("embed_query",
      s"dims=${queryVec.length} hints=${hints.signals.mkString("+")}", 1L))

    // ---- branch A: vector/hybrid (V3) or MMR (V4) ----
    val mem = store.memories
    val typeFiltered = memoryType match {
      case Some(t) => FilterOps.memoryType(col("memory_type"), t)
      case None => lit(true)
    }
    val predCol = FilterOps.predicatesFor(mem, filters)
    val vectorResults: DataFrame = {
      if (diverse) {
        val base = scopedMemories().filter(predCol && typeFiltered)
        SearchOps.mmr(base, "embedding", "id", queryVec, effectiveK, config.mmrLambda)
          .select(col("id"), col("score"))
      } else {
        // Faithful mode: candidates fused over the whole store (the
        // engine's text+vector indexes are unscoped), scope/predicates
        // post-hoc like search/vector.py:157-163. Scoped mode pushes the
        // tenant scope into BOTH legs — on a large multi-tenant store
        // the global top-fetchK page can contain zero rows for the
        // querying tenant, starving them of results brute-force search
        // would have found; the post-filter below stays (harmless).
        val candBase = if (config.scopedHybridCandidates) mem.filter(memoryScope) else mem
        val nonEmptyEmb = size(col("embedding")) > 0
        val cand = SearchOps.hybridSearch(
          candBase.withColumn("embedding",
            when(nonEmptyEmb, col("embedding")).otherwise(lit(null))),
          "id", "text", "embedding", query, queryVec, effectiveK,
          config.rrfK, fetchK = math.max(50, 4 * effectiveK),
          preparedBm25 = Some(bm25PreparedState()))
        cand.join(mem, Seq("id"))
          .filter(col("expired_at").isNull && predCol && typeFiltered)
          .filter(memoryScope)
          .select(col("id"), col("score"))
      }
    }
    trace.foreach(_ += ExplainStep(if (diverse) "diverse_search" else "hybrid_search",
      "vector branch", vectorResults.count()))

    // ---- branch B: graph search (J2-J4) ----
    val queryEntities = extractor.extractQueryEntities(query)
    val graphResults = graphSearch(queryEntities, queryVec, effectiveK, memoryType)
    trace.foreach(_ += ExplainStep("graph_search",
      s"entities=${queryEntities.map(_.name).mkString(",")}", graphResults.count()))

    // ---- merge J15/R1 ----
    val merged = GraphOps.mergeResults(vectorResults, graphResults, "id",
      config.agreementBonus)
    trace.foreach(_ += ExplainStep("merge", "full-outer + agreement bonus",
      merged.count()))

    // ---- filter chain F3/F4/F5 ----
    // memories has its own `source` column ("summarize" marker) — the
    // merge result's source (vector/graph/both) wins at the API.
    // NOTE on includeExpired: both candidate branches above pre-drop
    // expired rows, so this flag only disables the (already-moot)
    // post-merge filter — a quirk ported FAITHFULLY from the reference,
    // whose candidate generators do the same (search/vector.py:54,157,
    // graph.py:136); expired memories are reachable via get_all
    // (include_expired=true) and history, not via search.
    val withProps = merged.join(
      store.memories.withColumnRenamed("source", "mem_source"), Seq("id"))
    var filtered = if (includeExpired) withProps
      else withProps.filter(col("expired_at").isNull)
    timeAfter.foreach(t => filtered = filtered.filter(col("created_at") >= t))
    timeBefore.foreach(t => filtered = filtered.filter(col("created_at") <= t))
    pointInTime.foreach { pit =>
      filtered = filtered.filter(
        FilterOps.validAtPointInTime(col("valid_at"), col("invalid_at"), pit))
      trace.foreach(_ += ExplainStep("point_in_time_filter", s"pit=$pit",
        filtered.count()))
    }

    // ---- boost chain R2/R3 ----
    // topology scores feed both the R2 boost and R5's wTopo term —
    // version-memoized across searches (see topologyScoresDf)
    lazy val topoDf = topologyScoresDf()
    if (config.enableTopologyBoost) {
      filtered = filtered
        .join(topoDf.withColumnRenamed("mem", "id"), Seq("id"), "left")
        .withColumn("score", ScoringOps.topologyBoost(col("score"),
          col("topology_score"), config.topologyBoostFactor))
        .drop("topology_score")
      trace.foreach(_ += ExplainStep("topology_boost", "applied", filtered.count()))
    }
    if (config.crossSessionFactor > 0) {
      filtered = filtered.withColumn("score", ScoringOps.crossSessionBoost(
        col("score"), col("pagerank"), col("betweenness"), config.crossSessionFactor))
      trace.foreach(_ += ExplainStep("cross_session_boost", "applied", filtered.count()))
    }

    // ---- collect the candidate page (bounded by merge of 2 top-k sets)
    var page: Seq[ResultRow] = collectResults(filtered)

    // ---- R4 rerank ----
    if (rerank) reranker.foreach { rr =>
      val scores = rr.score(query, page.map(_.text))
      page = page.zip(scores).map { case (r, s) => r.copy(score = s) }
        .sortBy(r => (-r.score, r.id)).take(k)
      trace.foreach(_ += ExplainStep("rerank", "trait reranker", page.size.toLong))
    }

    // ---- R5 composite importance scoring (+ access side effect) ----
    if (config.enableImportance) {
      val ts = now.getOrElse(clock())
      val ids = page.map(_.id)
      // wTopo > 0 pulls A5 topology per result (shared topoDf, computed
      // once even when R2 also ran); structural decay pulls A6
      // reinforcement to modulate the recency rate (scoring.py:15-125)
      val topoMap: Map[Long, Double] =
        if (config.weightTopology > 0 && ids.nonEmpty)
          topoDf
            .filter(col("mem").isin(ids: _*))
            .select(col("mem"), col("topology_score")).collect()
            .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        else Map.empty
      val reinfMap: Map[Long, Double] =
        if (config.enableStructuralDecay && ids.nonEmpty)
          reinforcementDf()
            .filter(col("mem").isin(ids: _*))
            .select(col("mem"), col("reinforcement")).collect()
            .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        else Map.empty
      page = page.map { r =>
        // clamp: future-dated rows must not get recency > 1 (the
        // reference clamps age to >= 0, scoring.py:386)
        val ageDays =
          math.max(0L, ts - r.createdAt.getOrElse(0L)).toDouble / 86400000.0
        val rate =
          if (config.enableStructuralDecay)
            config.recencyDecayRate * (1.0 - 0.5 * reinfMap.getOrElse(r.id, 0.0))
          else config.recencyDecayRate
        val recency = math.exp(-rate * ageDays)
        val freq = math.min(1.0,
          math.log(1.0 + r.accessCount.getOrElse(0L).toDouble) / math.log(101.0))
        val score = config.weightSimilarity * r.score +
          config.weightRecency * recency +
          config.weightFrequency * freq +
          config.weightImportance * r.importance.getOrElse(1.0) +
          config.weightTopology * topoMap.getOrElse(r.id, 0.0)
        r.copy(score = score)
      }.sortBy(r => (-r.score, r.id))
      store.bumpAccess(page.map(_.id), ts)
      trace.foreach(_ += ExplainStep("importance_scoring", "composite", page.size.toLong))
    }

    // ---- F6 min-score, R6 chrono, R8 top-k ----
    val effMin = minScore.orElse(config.searchMinScore)
    effMin.foreach { m =>
      page = page.filter(_.score >= m)
      trace.foreach(_ += ExplainStep("min_score_filter", s"min=$m", page.size.toLong))
    }
    if (hints.sortChronologically) {
      page = page.sortBy(r => (r.createdAt.getOrElse(0L), r.id))
      trace.foreach(_ += ExplainStep("temporal_sort", "chronological", page.size.toLong))
    }
    // J6/F8 — decorate the RETURNED page with relation triples (every
    // reference search response carries them, vector.py:56/162/268)
    val top = page.take(k)
    val rels = relationsFor(top.map(_.id))
    top.map(r => r.copy(relations = rels.getOrElse(r.id, Nil)).toSearchResult)
  }

  /** J2-J4 — graph branch with the reference's exact fallback scores
    * (search/graph.py:89-199): exact-name lookup with lower() fallback;
    * 1-hop score = max(0, cos) or 0.3 without embedding; 2-hop adds
    * RELATION-connected memories at max(0, cos·0.7) or 0.2; 1-hop wins
    * dedup; expired skipped.
    */
  private def graphSearch(
      entities: Seq[ExtractedEntity],
      queryVec: Array[Float],
      k: Int,
      memoryType: Option[String]
  ): DataFrame = {
    import spark.implicits._
    val emptyOut = Seq.empty[(Long, Double)].toDF("id", "score")
    if (entities.isEmpty) emptyOut
    else {
      val names = entities.map(_.name)
      val ents = store.entities.filter(entityScope)
      // the lowercase fallback is PER ENTITY (graph.py:100-108): an
      // entity with an exact hit keeps it, an entity without one falls
      // back to case-insensitive — not all-or-nothing across the set
      val exact = ents.filter(col("name").isin(names: _*))
      val exactNames = exact.select(col("name")).distinct()
        .collect().map(_.getString(0)).toSet
      val missingLower = names.filterNot(exactNames).map(_.toLowerCase).distinct
      val entIds =
        if (missingLower.isEmpty) exact
        else exact.unionByName(
          ents.filter(lower(col("name")).isin(missingLower: _*))).distinct()
      val he = store.edges.filter(col("edge_type") === EdgeTypes.HasEntity)
      val mem = scopedMemories() // F3 applied
      val typeOk = memoryType match {
        case Some(t) => FilterOps.memoryType(col("memory_type"), t)
        case None => lit(true)
      }
      val nonEmptyEmb = size(col("embedding")) > 0
      val cosExpr = greatest(lit(0.0),
        VectorFunctions.cosineToQuery(col("embedding"), queryVec))

      val oneHop = he
        .join(broadcast(entIds.select(col("id").as("ent"))), he("dst") === col("ent"))
        .select(he("src").as("id")).distinct()
        .join(mem, Seq("id"))
        .filter(typeOk)
        .withColumn("score", when(nonEmptyEmb, cosExpr).otherwise(lit(0.3)))
        .select(col("id"), col("score"))

      val twoHopDf =
        if (config.graphSearchDepth >= 2) {
          val rel = store.edges.filter(col("edge_type") === EdgeTypes.Relation)
          val e2 = rel
            .join(broadcast(entIds.select(col("id").as("e1"))), rel("src") === col("e1"))
            .select(rel("dst").as("ent")).distinct()
          he.join(broadcast(e2), he("dst") === col("ent"))
            .select(he("src").as("id")).distinct()
            .join(mem, Seq("id"))
            .filter(typeOk)
            .withColumn("score",
              when(nonEmptyEmb, greatest(lit(0.0), cosExpr * 0.7)).otherwise(lit(0.2)))
            .select(col("id"), col("score"))
            .join(oneHop.select(col("id")), Seq("id"), "left_anti") // 1-hop wins
        } else emptyOut
      oneHop.unionByName(twoHopDf)
        .orderBy(col("score").desc, col("id").asc)
        .limit(k)
    }
  }

  // internal hydrated result row
  private case class ResultRow(
      id: Long, text: String, score: Double, source: String,
      metadata: Option[String], actorId: Option[String], role: Option[String],
      memoryType: String, createdAt: Option[Long], learnedAt: Option[Long],
      sessionId: Option[String], expiredAt: Option[Long],
      validAt: Option[Long], invalidAt: Option[Long],
      importance: Option[Double], accessCount: Option[Long],
      relations: Seq[RelationTriple] = Nil
  ) {
    def toSearchResult: SearchResult = SearchResult(
      id.toString, text, score, config.userId, metadata, actorId, role,
      memoryType, source, createdAt, learnedAt, sessionId, expiredAt,
      validAt, invalidAt, relations)
  }

  /** F8/J6 — relation triples for a bounded page of memory ids:
    * memory -HAS_ENTITY-> e -RELATION-> t, decorated with entity names
    * (search/vector.py:384-409). ONE batched join for the whole page
    * where the reference issues a per-result probe; triples are ordered
    * (source, relation, target) for determinism.
    */
  private def relationsFor(ids: Seq[Long]): Map[Long, Seq[RelationTriple]] =
    if (ids.isEmpty) Map.empty
    else {
      val he = store.edges
        .filter(col("edge_type") === EdgeTypes.HasEntity && col("src").isin(ids: _*))
        .select(col("src").as("mem"), col("dst").as("ent"))
      val rel = store.edges
        .filter(col("edge_type") === EdgeTypes.Relation)
        .select(col("src").as("ent"), col("dst").as("tgt"),
          coalesce(col("props").getItem("relation_type"), lit("")).as("relation"))
      val eName = store.entities.select(col("id"), col("name"))
      he.join(rel, Seq("ent"))
        .join(eName.select(col("id").as("ent"), col("name").as("source_name")), Seq("ent"))
        .join(eName.select(col("id").as("tgt"), col("name").as("target_name")), Seq("tgt"))
        .select(col("mem"), col("source_name"), col("relation"), col("target_name"))
        .distinct()
        .orderBy(col("mem"), col("source_name"), col("relation"), col("target_name"))
        .collect()
        .map(r => r.getLong(0) ->
          RelationTriple(r.getString(1), r.getString(2), r.getString(3)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    }

  /** Null-aware read of column `i` of a collected row. */
  private def opt[T](r: Row, i: Int): Option[T] =
    if (r.isNullAt(i)) None else Some(r.getAs[T](i))

  private def collectResults(df: DataFrame): Seq[ResultRow] =
    df.select(col("id"), col("score"), col("source"), col("text"),
        col("metadata"), col("actor_id"), col("role"),
        coalesce(col("memory_type"), lit(MemoryTypes.Default)).as("memory_type"),
        col("created_at"), col("learned_at"), col("session_id"),
        col("expired_at"), col("valid_at"), col("invalid_at"),
        col("importance"), col("access_count"))
      .orderBy(col("score").desc, col("id").asc)
      .collect()
      .map { r =>
        ResultRow(r.getLong(0), r.getString(3), r.getDouble(1), r.getString(2),
          opt(r, 4), opt(r, 5), opt(r, 6), r.getString(7),
          opt(r, 8), opt(r, 9), opt(r, 10), opt(r, 11), opt(r, 12), opt(r, 13),
          opt(r, 14), opt(r, 15))
      }.toSeq

  // ------------------------------------------------------------------
  // other entry points
  // ------------------------------------------------------------------

  /** get_all — S1 + F1/F3/F7 (manager.py:1769-1814). */
  def getAll(
      memoryType: Option[String] = None,
      includeExpired: Boolean = false
  ): Seq[SearchResult] = {
    var df = scopedMemories(includeExpired)
      .withColumn("score", lit(1.0)).withColumn("source", lit("scan"))
    memoryType.foreach(t => df = df.filter(FilterOps.memoryType(col("memory_type"), t)))
    collectResults(df.orderBy(col("created_at").desc, col("id").desc))
      .map(_.toSearchResult)
  }

  /** A3 — group results by session (null → "default"), chronological
    * within each group (manager.py:1571-1583).
    */
  def searchGrouped(
      query: String,
      k: Int = 10,
      now: Option[Long] = None
  ): Map[String, Seq[SearchResult]] =
    search(query, k, now = now)
      .groupBy(_.sessionId.getOrElse("default"))
      .view
      .mapValues(_.sortBy(r => (r.createdAt.getOrElse(0L), r.memoryId.toLong)))
      .toMap

  /** W4 — direct update: overwrite text + re-embed (manager.py:1093-1112). */
  def update(memoryId: String, newText: String, now: Option[Long] = None): Boolean =
    tracer.span("memory.update", Map("id" -> memoryId)) {
    usageIncr("update")
    val ts = now.getOrElse(clock())
    val id = memoryId.toLong
    val old = store.memories.filter(col("id") === id)
      .select(col("text")).collect().headOption.map(_.getString(0))
    old match {
      case None => false
      case Some(oldText) =>
        import spark.implicits._
        val emb = embedder.embedOne(newText)
        store.patchMemories(
          Seq((id, newText, ts, emb)).toDF("id", "text", "updated_at", "embedding"),
          Seq("text", "updated_at", "embedding"))
        recordHistory("UPDATE", id, ts, Some(oldText), Some(newText), None, None)
        true
    }
  }

  /** W5 — hard delete. */
  def delete(memoryId: String): Boolean =
    tracer.span("memory.delete", Map("id" -> memoryId)) {
      usageIncr("delete")
      val id = memoryId.toLong
      val exists = !store.memories.filter(col("id") === id).isEmpty
      if (exists) store.deleteMemories(Seq(id))
      exists
    }

  /** W5 — delete_all within scope; returns the deleted count (A10).
    * Scope-predicate anti-join delete — no driver materialization of the
    * id set (the count comes from the matched-id delta inside
    * [[GraphStore.deleteMemoriesWhere]]).
    */
  def deleteAll(): Long =
    tracer.span("memory.delete_all", Map("user" -> config.userId)) {
      usageIncr("delete_all")
      store.deleteMemoriesWhere(memoryScope)
    }

  /** W12 — set_importance with [0,1] validation (manager.py:2016-2028). */
  def setImportance(memoryId: String, importance: Double): Boolean = {
    require(importance >= 0.0 && importance <= 1.0, "importance must be in [0, 1]")
    val id = memoryId.toLong
    val exists = !store.memories.filter(col("id") === id).isEmpty
    if (exists) {
      import spark.implicits._
      store.patchMemories(Seq((id, importance)).toDF("id", "importance"),
        Seq("importance"))
    }
    exists
  }

  /** W8 read side — chronological history of one memory (history.py:104-139). */
  def history(memoryId: String): Seq[HistoryEntry] = {
    val id = memoryId.toLong
    store.history.filter(col("memory_id") === id)
      .orderBy(col("timestamp").asc, col("id").asc)
      .collect()
      .map(r => HistoryEntry(r.getString(2), r.getLong(1).toString, r.getLong(3),
        opt(r, 4), opt(r, 5), opt(r, 6), opt(r, 7)))
      .toSeq
  }

  /** S11 — stats scan (manager.py:1926-2014). */
  def stats(): MemoryStats = tracer.span("memory.stats") {
    val m = store.memories.filter(memoryScope)
    val typed = m.filter(col("expired_at").isNull)
      .groupBy(coalesce(col("memory_type"), lit(MemoryTypes.Default)).as("t"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    MemoryStats(
      totalMemories = m.filter(col("expired_at").isNull).count(),
      semanticCount = typed.getOrElse(MemoryTypes.Semantic, 0L),
      proceduralCount = typed.getOrElse(MemoryTypes.Procedural, 0L),
      episodicCount = typed.getOrElse(MemoryTypes.Episodic, 0L),
      entityCount = store.entities.filter(entityScope).count(),
      // relation count scoped through the src entity's owner — a raw
      // edge-type count would leak cross-tenant relations on a shared
      // store (the reference scopes by graph_name, manager.py:1964-1974)
      relationCount = store.edges.filter(col("edge_type") === EdgeTypes.Relation)
        .join(store.entities.filter(entityScope).select(col("id").as("src")), Seq("src"))
        .count(),
      episodeCount = store.episodes.filter(col("user_id") === config.userId).count(),
      communityCount = store.communities.filter(col("user_id") === config.userId).count(),
      expiredCount = m.filter(col("expired_at").isNotNull).count()
    )
  }

  /** J7 — temporal chain: LEADS_TO walk from a memory, default forward,
    * EXCLUDING the origin (manager.py:1475-1569: `[:LEADS_TO*1..d]`
    * matches paths of length >= 1), hydrated to (memory_id, text,
    * created_at, session_id) entries. For "both", the two legs are
    * deduplicated across each other (forward occurrence wins) and the
    * merged list is sorted by created_at with id as tie-break — faithful
    * to the reference's merge (manager.py:1556-1568).
    */
  def temporalChain(memoryId: String, maxDepth: Int = 5,
      direction: String = "forward"): Seq[ChainEntry] = {
    import spark.implicits._
    val seeds = Seq(memoryId.toLong).toDF("root")
    def leg(rev: Boolean): Seq[ChainEntry] =
      GraphOps.varLengthPaths(store.edges, EdgeTypes.LeadsTo, seeds, maxDepth,
          reverse = rev)
        .select(col("node"))
        .distinct()
        .join(store.memories.filter(memoryScope), col("node") === col("id"))
        .orderBy(col("created_at").asc, col("id").asc)
        .select(col("id"), col("text"), col("created_at"), col("session_id"))
        .collect()
        .map(r => ChainEntry(r.getLong(0).toString, r.getString(1),
          opt(r, 2), opt(r, 3)))
        .toSeq
    val fwd = if (direction == "forward" || direction == "both") leg(false) else Nil
    val bwd = if (direction == "backward" || direction == "both") leg(true) else Nil
    // "both" dedups across legs (forward occurrence wins) and sorts the
    // merged list by created_at (manager.py:1556-1568), with id as a
    // deterministic tie-break
    if (direction == "both") {
      val seen = scala.collection.mutable.LinkedHashMap.empty[String, ChainEntry]
      (fwd ++ bwd).foreach(e => if (!seen.contains(e.memoryId)) seen(e.memoryId) = e)
      seen.values.toSeq.sortBy(e => (e.createdAt.getOrElse(0L), e.memoryId.toLong))
    } else fwd ++ bwd
  }

  /** J8 — episode chain walk along NEXT_EPISODE for session replay
    * (manager.py:1407-1473): EXCLUDES the start episode, returns
    * EpisodeResults ordered furthest-predecessor → ... → origin-adjacent
    * → successors (the reference's reversed(backward) + forward shape).
    */
  def episodeChain(episodeId: String, maxDepth: Int = 10,
      direction: String = "forward"): Seq[EpisodeResult] = {
    import spark.implicits._
    val seeds = Seq(episodeId.toLong).toDF("root")
    def walkIds(rev: Boolean): Seq[Long] =
      GraphOps.varLengthPaths(store.edges, EdgeTypes.NextEpisode, seeds,
          maxDepth, reverse = rev)
        .select(col("node"), col("depth")).distinct()
        .orderBy(col("depth").asc, col("node").asc)
        .collect().map(_.getLong(0)).toSeq
    val fwd = if (direction != "backward") walkIds(false) else Nil
    val bwd = if (direction != "forward") walkIds(true) else Nil
    val ordered = bwd.reverse ++ fwd
    if (ordered.isEmpty) Nil
    else {
      val byId = hydrateEpisodes(
        store.episodes.filter(col("id").isin(ordered: _*)))
        .map(e => e.episodeId.toLong -> e).toMap
      ordered.flatMap(byId.get)
    }
  }

  /** S1 (episodes) — scoped episode listing with limit
    * (manager.py:2251-2255 get_episodes → 1318-1331): user-scoped,
    * optionally session-filtered, chronological, hydrated with produced
    * memory ids + mentioned entity names.
    */
  def getEpisodes(sessionId: Option[String] = None, limit: Int = 50): Seq[EpisodeResult] = {
    val base = store.episodes.filter(col("user_id") === config.userId)
    val scoped = sessionId.map(s => base.filter(col("session_id") === s)).getOrElse(base)
    hydrateEpisodes(scoped.orderBy(col("created_at").asc, col("id").asc).limit(limit))
  }

  /** J9 — provenance: the episodes that PRODUCED a memory, hydrated to
    * full EpisodeResults (manager.py:1333-1377).
    */
  def getProvenance(memoryId: String): Seq[EpisodeResult] = {
    val epIds = store.edges
      .filter(col("edge_type") === EdgeTypes.Produced &&
        col("dst") === memoryId.toLong)
      .select(col("src").as("id")).distinct()
    hydrateEpisodes(store.episodes.join(epIds, Seq("id")))
  }

  /** Hydrate episode rows with produced-memory ids and mentioned-entity
    * names: two grouped joins for the whole set — no per-episode probe
    * loops (the reference issues one query per episode per edge type,
    * manager.py:1330-1350).
    */
  private def hydrateEpisodes(eps: DataFrame): Seq[EpisodeResult] = {
    // semi-join the bounded episode page into the edge scans FIRST so
    // the aggregations only touch that page's edges, not the store's
    val pageIds = eps.select(col("id").as("src"))
    val prodAgg = store.edges.filter(col("edge_type") === EdgeTypes.Produced)
      .join(pageIds, Seq("src"), "left_semi")
      .groupBy(col("src").as("id"))
      .agg(sort_array(collect_list(col("dst"))).as("produced"))
    val mentAgg = store.edges.filter(col("edge_type") === EdgeTypes.Mentions)
      .join(pageIds, Seq("src"), "left_semi")
      .select(col("src").as("id"), col("dst").as("ent"))
      .join(store.entities.select(col("id").as("ent"), col("name")), Seq("ent"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("ent"), col("name")))).as("ments"))
    eps
      .join(prodAgg, Seq("id"), "left")
      .join(mentAgg, Seq("id"), "left")
      .orderBy(col("created_at").asc, col("id").asc)
      .select(col("id"), col("content"), col("source"), col("user_id"),
        col("session_id"), col("run_id"), col("created_at"),
        col("produced"), col("ments"))
      .collect()
      .map { r =>
        val produced =
          if (r.isNullAt(7)) Nil else r.getSeq[Long](7).map(_.toString).toSeq
        val mentioned =
          if (r.isNullAt(8)) Nil
          else r.getSeq[Row](8).map(_.getString(1)).toSeq
        EpisodeResult(r.getLong(0).toString, r.getString(1), r.getString(2),
          r.getString(3), opt(r, 4), opt(r, 5), Some(r.getLong(6)),
          produced, mentioned)
      }.toSeq
  }

  /** G4 read side — communities containing any of the given entities,
    * matched case-insensitively on member names (communities.py:241-283).
    * One grouped join over HAS_MEMBER for the whole community set.
    */
  def getCommunityContext(entityNames: Seq[String]): Seq[CommunityInfo] =
    if (entityNames.isEmpty) Nil
    else {
      val nameSet = entityNames.map(_.toLowerCase).distinct
      // restrict membership edges to THIS user's communities before
      // aggregating — the HAS_MEMBER table spans every tenant
      val myComms = store.communities.filter(col("user_id") === config.userId)
        .select(col("id").as("cid"))
      val members = store.edges.filter(col("edge_type") === EdgeTypes.HasMember)
        .select(col("src").as("cid"), col("dst").as("ent"))
        .join(myComms, Seq("cid"), "left_semi")
        .join(store.entities.select(col("id").as("ent"), col("name")), Seq("ent"))
      val agg = members.groupBy(col("cid")).agg(
        sort_array(collect_list(struct(col("ent"), col("name")))).as("ms"),
        max(when(lower(col("name")).isin(nameSet: _*), 1).otherwise(0)).as("hit"))
      store.communities.filter(col("user_id") === config.userId)
        .join(agg, col("id") === col("cid"))
        .filter(col("hit") === 1)
        .orderBy(col("id"))
        .select(col("community_id"), col("name"), col("summary"),
          col("member_count"), col("ms"))
        .collect()
        .map { r =>
          CommunityInfo(r.getLong(0).toString, r.getString(1), r.getString(2),
            r.getLong(3), r.getSeq[Row](4).map(_.getString(1)).toSeq)
        }.toSeq
    }

  def episodeOutputs(episodeId: String): (Seq[String], Seq[String]) = {
    val id = episodeId.toLong
    def dsts(t: String) = store.edges
      .filter(col("edge_type") === t && col("src") === id)
      .orderBy(col("dst").asc)
      .select(col("dst")).collect().map(_.getLong(0).toString).toSeq
    (dsts(EdgeTypes.Produced), dsts(EdgeTypes.Mentions))
  }

  /** W7 — consolidation: summarize oldest non-expired memories in
    * batches, protect recent + well-connected, DERIVED_FROM provenance,
    * hard-delete originals (manager.py:1835-1915).
    */
  def summarize(now: Option[Long] = None): Seq[String] = lockFor(config.userId).synchronized {
    tracer.span("memory.summarize", Map("user" -> config.userId)) {
    usageIncr("summarize")
    val ts = now.getOrElse(clock())
    val topo = GraphOps.topologyScores(
        store.edges.filter(col("edge_type") === EdgeTypes.HasEntity))
      .select(col("mem").as("id"), col("topology_score"))
    val candidates = scopedMemories()
      .join(topo, Seq("id"), "left")
      .filter(coalesce(col("topology_score"), lit(0.0)) <
        config.consolidationProtectThreshold) // F10
      .orderBy(col("created_at").asc, col("id").asc)
      .select(col("id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    val eligible = candidates.dropRight(config.consolidationPreserveRecent)
    eligible.grouped(config.consolidationBatchSize).flatMap { batch =>
      // batch flow mirrors manager.py:1893-1916: ALL summaries created
      // (with ADD history) first, then DERIVED_FROM from every summary
      // to every original, then ONE delete-with-history pass per batch —
      // a per-summary loop would duplicate DELETE history and delete
      // calls whenever the summarizer returns more than one text
      val summaries = summarizer.summarize(batch.map(_._2)).filter(_.nonEmpty)
      val newIds = summaries.map { s =>
        val id = createMemory(s, Some(embedder.embedOne(s)), ts,
          MemoryTypes.Semantic, None, None, None, None, None, None)
        import spark.implicits._
        store.patchMemories(Seq((id, "summarize")).toDF("id", "source"), Seq("source"))
        recordHistory("ADD", id, ts, None, Some(s), None, None)
        id
      }
      store.appendEdges(for {
        nid <- newIds
        (orig, _) <- batch
      } yield EdgeRow(store.nextEdgeId(), nid, orig, EdgeTypes.DerivedFrom, Map.empty))
      batch.foreach { case (orig, t) =>
        recordHistory("DELETE", orig, ts, Some(t), None, None, None)
      }
      store.deleteMemories(batch.map(_._1))
      newIds.map(_.toString)
    }.toSeq
    }
  }
}
