package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.dedup.Dedup
import graft.multimodal.MediaDedup

/** q216 — the unified curation plan rebuilt from stored base state plus
  * one ingest batch. The laws: the rebuild ≡ the from-scratch q214 plan
  * of the union (the driver gate replays this via q214's oracle; the
  * spec replays it in-process, including a corpus where the batch
  * MERGES existing clusters); the stored state is read from the
  * persisted snapshot chain, not recomputed (poison proof).
  */
class CurationMaintainSpec extends SparkSpec {

  import CurationMaintain.{buildBaseState, rebuildPlan}

  private def docs(rows: (Long, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "source")
  }

  /** The spec's hand-built corpora carry no media payload columns. */
  private def noMedia: DataFrame = {
    import spark.implicits._
    MediaDedup.planFromEdges(
      Seq.empty[(Long, Long, String)].toDF("id_a", "id_b", "modality"))
  }

  private def fromScratch(union: DataFrame): DataFrame =
    CurationPlan.planFromFlags(
      ReleaseFunnel.curationFlags(union),
      Dedup.connectedComponents(
        Dedup.jaccardPairs(union, CurationMaintain.K,
          CurationMaintain.JaccardThreshold, CurationMaintain.MaxDf)
          .select(col("id_a"), col("id_b"))),
      noMedia)

  private def planRowSet(df: DataFrame): Set[Seq[Any]] =
    df.select("doc_id", "n_tokens", "quality_pass", "exact_keep",
        "contaminated", "neardup_keep", "media_action", "media_modalities",
        "drop_stage", "action")
      .collect().toIndexedSeq.map(_.toSeq).toSet

  private def neardupKeep(df: DataFrame): Map[Long, Long] =
    df.select(col("doc_id"), col("neardup_keep")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  // two base clusters A={1,2}, B={3,4} (identical texts within each),
  // one far cluster C={14,15}; batch doc 25 (25 % 13 == 12) carries
  // A's text followed by B's → J(25, ·) = 0.25 against all four, so
  // the batch MERGES A and B (and itself) into one cluster labeled 1
  private val tA = "alpha beta gamma delta epsilon zeta"
  private val tB = "red green blue cyan magenta yellow"
  private val tC = "one two three four five six"
  private def baseDocs = docs2(
    1L -> tA, 2L -> tA, 3L -> tB, 4L -> tB, 14L -> tC, 15L -> tC)
  private def batchDoc = docs2(25L -> s"$tA $tB")
  private def docs2(rows: (Long, String)*): DataFrame =
    docs(rows.map { case (id, t) => (id, t, "srcA") }: _*)

  /** doc_id → full plan row, for comparing per-doc rows across plans. */
  private def planRows(df: DataFrame): Map[Long, Seq[Any]] =
    planRowSet(df).map(r => r.head.asInstanceOf[Long] -> r).toMap

  /** Ids whose row in `after` is new or differs from its row in `before`. */
  private def changedIds(before: DataFrame, after: DataFrame): Set[Long] = {
    val b = planRows(before)
    planRows(after).collect { case (id, r) if !b.get(id).contains(r) => id }
      .toSet
  }

  test("a batch doc merges two existing text clusters: merged members " +
    "are recomputed with the union labels, the untouched cluster is " +
    "kept, and the maintained plan equals the from-scratch union plan") {
    val st = buildBaseState(baseDocs)
    val union = baseDocs.unionByName(batchDoc)
    val out = rebuildPlan(st, union, noMedia).localCheckpoint()
    // the merge actually happened: docs 1..4 and 25 share one cluster
    // (label 1 = the min member), so only doc 1 keeps its neardup flag
    assert(neardupKeep(out) === Map(1L -> 1L, 2L -> 0L, 3L -> 0L,
      4L -> 0L, 25L -> 0L, 14L -> 1L, 15L -> 0L))
    // only the merged neighborhood differs from the base plan: the
    // untouched cluster C keeps its base rows verbatim
    val base = fromScratch(baseDocs)
    val changed = changedIds(base, out)
    assert(changed.subsetOf(Set(1L, 2L, 3L, 4L, 25L)), changed)
    assert(changed.contains(25L) && changed.contains(3L), changed)
    val clusterC = Set(14L, 15L)
    assert(planRows(out).filter(r => clusterC(r._1))
      === planRows(base).filter(r => clusterC(r._1)))
    assert(planRowSet(out) === planRowSet(fromScratch(union)))
  }

  test("a batch near-dup that does NOT merge clusters dirties only " +
    "its own neighborhood; an exact text re-ingest dirties only its " +
    "text group") {
    // batch doc 12 (12 % 13 == 12) duplicates cluster C's text EXACTLY:
    // C gains a member and is relabeled to its new min member 12, while
    // A and B stay apart with their base rows unchanged
    val st = buildBaseState(baseDocs)
    val union = baseDocs.unionByName(docs2(12L -> tC))
    val out = rebuildPlan(st, union, noMedia).localCheckpoint()
    assert(neardupKeep(out) === Map(1L -> 1L, 2L -> 0L, 3L -> 1L,
      4L -> 0L, 12L -> 1L, 14L -> 0L, 15L -> 0L))
    val changed = changedIds(fromScratch(baseDocs), out)
    assert(changed.subsetOf(Set(12L, 14L, 15L)), changed)
    assert(changed.contains(12L) && changed.contains(14L), changed)
    assert(planRowSet(out) === planRowSet(fromScratch(union)))
  }

  test("persisted base state: the one-time build commits through the " +
    "snapshot protocol, maintenance READS the parquet snapshot (poison " +
    "proof through the chain, not a session memo), and pack/unpack " +
    "round-trips every view") {
    import graft.stream.Ingest
    import spark.implicits._
    val corpus = java.nio.file.Files
      .createTempDirectory("curation-persist").toString
    // BatchMod = 13: doc 25 is the ingest batch; base docs form cluster
    // A={1,2} (identical texts), B={3,4}, C={14,15} — the batch doc
    // carries A's+B's text, merging A and B (the same corpus as the
    // in-memory merge case, now through parquet)
    Seq((1L, tA, "srcA"), (2L, tA, "srcA"), (3L, tB, "srcA"),
      (4L, tB, "srcA"), (14L, tC, "srcA"), (15L, tC, "srcA"),
      (25L, s"$tA $tB", "srcA"))
      .toDF("doc_id", "text", "source").repartition(1)
      .write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    val docsAll = graft.Tables.documents(spark, corpus)
    val q1 = CurationMaintain.maintainQuery(spark, corpus).localCheckpoint()
    // the build committed a manifest-pointed snapshot, and the
    // round-tripped state reproduces the from-scratch union plan
    val table = CurationMaintain.stateTablePath(spark, corpus)
    assert(new java.io.File(s"$table/_latest").exists(),
      s"no snapshot manifest at $table")
    assert(planRowSet(q1) === planRowSet(fromScratchMedia(spark, docsAll)))

    // every view survives pack → unpack unchanged
    val built = buildBaseState(docsAll.filter(!CurationMaintain.isBatch))
    val unpacked = CurationMaintain.unpackState(
      CurationMaintain.packState(built))
    def rowSet(df: DataFrame): Set[Seq[Any]] =
      df.select(df.columns.sorted.toIndexedSeq.map(col): _*)
        .collect().toIndexedSeq.map(_.toSeq).toSet
    Seq[CurationMaintain.BaseState => DataFrame](_.flags, _.dfAll,
      _.shCapped, _.dfCorpus, _.shCorpusCapped).foreach { view =>
      assert(rowSet(view(unpacked)) === rowSet(view(built)))
    }

    // poison the STORED flag rows' n_tokens THROUGH THE CHAIN: a second
    // maintainQuery must surface the poison on every base doc — proof
    // the query reads the persisted parquet state, not a rebuild or an
    // in-session memo — while the batch doc's flags are computed fresh
    Ingest.advanceSnapshot(spark, table,
      CurationMaintain.emptyState(spark)) { st =>
      st.withColumn("n_tokens",
        when(col("kind") === "flag", lit(4242L)).otherwise(col("n_tokens")))
    }
    val nt = CurationMaintain.maintainQuery(spark, corpus)
      .select(col("doc_id"), col("n_tokens")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nt === Map(1L -> 4242L, 2L -> 4242L, 3L -> 4242L, 4L -> 4242L,
      14L -> 4242L, 15L -> 4242L, 25L -> 12L), nt)
  }

  /** From-scratch q214 plan of `union` with the REAL media tiers (the
    * persisted-state corpus has no media payloads beyond the synthetic
    * id-derived ones, which the query path also uses).
    */
  private def fromScratchMedia(s: SparkSession, union: DataFrame): DataFrame = {
    val edges = MediaDedup.modalityEdges(
      graft.multimodal.PerceptualHash.hashImages(s,
        graft.multimodal.PerceptualHash.imageCorpus(s, union)).toDF(),
      graft.multimodal.AudioFingerprint.fingerprintClips(s,
        graft.multimodal.AudioFingerprint.audioCorpus(s, union)).toDF(),
      graft.multimodal.VideoKeyframes.keyframes(s,
        graft.multimodal.VideoKeyframes.videoCorpus(s, union)).toDF())
    CurationPlan.planFromFlags(
      ReleaseFunnel.curationFlags(union),
      Dedup.connectedComponents(
        Dedup.jaccardPairs(union, CurationMaintain.K,
          CurationMaintain.JaccardThreshold, CurationMaintain.MaxDf)
          .select(col("id_a"), col("id_b"))),
      MediaDedup.planFromEdges(edges))
  }

  test("the q216 driver surface at sf0.001: both legs populated, " +
    "maintained equals q214's from-scratch plan bit-exactly") {
    val dir = "/root/testdata/sf0.001"
    val out = CurationMaintain.maintainQuery(spark, dir).localCheckpoint()
    // both the stored base docs and the %13 ingest batch are planned
    val byBatch = out.join(graft.Tables.documents(spark, dir)
        .select(col("doc_id"), CurationMaintain.isBatch.as("batch")),
        Seq("doc_id"))
      .groupBy(col("batch")).count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(byBatch.getOrElse(true, 0L) > 0, byBatch)
    assert(byBatch.getOrElse(false, 0L) > 0, byBatch)
    assert(planRowSet(out) === planRowSet(CurationPlan.planQuery(spark, dir)))
  }

  test("the REBUILD side of the cost switch equals the maintained plan " +
    "(both ≡ the from-scratch union plan) on the merge corpus and on " +
    "the sf0.001 driver surface, and the cost model routes local-scale " +
    "corpora through the measured-cheaper rebuild side") {
    val st = buildBaseState(baseDocs)
    val union = baseDocs.unionByName(batchDoc)
    assert(planRowSet(rebuildPlan(st, union, noMedia))
      === planRowSet(fromScratch(union)))

    // the rebuild over the PERSISTED sf0.001 state equals q214, and q216
    // routes through exactly that rebuild
    val dir = "/root/testdata/sf0.001"
    val rebuilt = rebuildPlan(
      CurationMaintain.unpackState(
        CurationMaintain.persistedStateFrame(spark, dir)),
      graft.Tables.documents(spark, dir),
      MediaDedup.planShared(spark, dir)._2).localCheckpoint()
    assert(planRowSet(rebuilt)
      === planRowSet(CurationPlan.planQuery(spark, dir)))
    assert(planRowSet(CurationMaintain.maintainQuery(spark, dir))
      === planRowSet(rebuilt))
  }
}
