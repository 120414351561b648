package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.Dedup
import graft.multimodal.MediaDedup
import graft.text.QualityRules
import graft.tools.CorpusMemo

/** q216: the UNIFIED curation plan (q214) over the stored base corpus
  * plus one ingest batch, recomputed on every call from stored base
  * state — the reference's refresh discipline (the unified table is
  * recomputed from the stored domain tables on every batch), with the
  * corpus-wide aggregates kept as state instead of re-derived.
  *
  * The stored state is what the recompute cannot cheaply redo per
  * batch: the base corpus docs' quality flags, and per universe (all
  * docs; corpus = non-src0 docs) the shingle df table plus the capped
  * inverted index. Per call, the only new work against that state is
  * batch-sized — the batch's quality flags, its shingles, and its union
  * df as a join against the stored df table (a shingle can cross the df
  * cap only if the batch raised its df, so the capped union index is the
  * stored one minus the crossing shingles plus the batch's under-cap
  * rows). On top of those views every q214 stage runs in full: the exact
  * keeper window, the containment screen against the src0 benchmarks,
  * the near-dup pair self-join with CC, and the q209-shared media plan.
  *
  * THE LAW (what the q216 oracle gates): the result ≡ the from-scratch
  * q214 plan of the union corpus. The oracle is q214's SQL VERBATIM.
  *
  * A dirty-scoped variant that carried untouched rows from a stored
  * plan was measured slower at both scales tried (sf0.1: 7.3 s vs
  * 3.7 s; GenSf 100×: 57.5 s vs 44.4 s, OPTIMIZATION_r17.md): its fixed
  * chain of ~180 small sequential jobs costs more than the rows it
  * skips, so the recompute is the only path.
  */
object CurationMaintain {

  /** source ≠ src0 AND doc_id % BatchMod == BatchMod−1 is the "new
    * ingest batch" (~8% of the corpus): training documents arrive,
    * benchmarks (src0) are a fixed reference set. 13 is coprime to the
    * q213 (%7), q215 (%9) and q217 (%11) slices.
    */
  val BatchMod = 13L

  val K = 5
  val MaxDf = 100
  val JaccardThreshold = 0.2
  val ContainThreshold = 0.5

  def isBatch: org.apache.spark.sql.Column =
    col("source") =!= "src0" && col("doc_id") % BatchMod === BatchMod - 1

  /** The stored base state the recompute reads: df and capped views are
    * state so a run never re-aggregates the corpus.
    */
  final case class BaseState(
      flags: DataFrame, // (doc_id, n_tokens, pass), base corpus docs
      dfAll: DataFrame, // (shingle, base_df) over ALL base docs
      shCapped: DataFrame, // (doc_id, shingle) of ALL base docs, df ≤ MaxDf
      dfCorpus: DataFrame, // (shingle, base_df), corpus (non-src0) docs
      shCorpusCapped: DataFrame) // corpus rows under the CORPUS-side cap

  // ---------------------------------------------------------------------
  // PERSISTED base state — the q213/q215 snapshot discipline: every
  // BaseState view packs into ONE kind-tagged parquet snapshot
  // (committed manifest-last through the versioned protocol, so all
  // views advance ATOMICALLY), keyed on the corpus fingerprint and the
  // tier parameters. The two capped indexes are stored as BITS on one
  // set of inverted-index rows (cap_all / cap_corpus) rather than as
  // duplicated row sets — readers prune by `kind` and the bit via
  // parquet predicate pushdown. The build is paid once per corpus
  // LIFETIME (not per session).
  // ---------------------------------------------------------------------

  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types.{BooleanType, LongType, StringType,
    StructField, StructType}

  /** The packed state schema: `kind` ∈ flag | sh | dfa | dfc, each kind
    * populating its own columns.
    */
  val StateSchema: StructType = StructType(Seq(
    StructField("kind", StringType),
    StructField("doc_id", LongType),
    StructField("shingle", StringType),
    StructField("base_df", LongType),
    StructField("cap_all", BooleanType),
    StructField("cap_corpus", BooleanType),
    StructField("n_tokens", LongType),
    StructField("pass", BooleanType)))

  def emptyState(s: SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[Row], StateSchema)

  private def alignToState(df: DataFrame): DataFrame =
    df.select(StateSchema.fields.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)

  /** Pack a built [[BaseState]] into the kind-tagged state frame. The
    * two capped views become bits on the `sh` rows: a row is stored
    * once if either capped view holds it.
    */
  def packState(st: BaseState): DataFrame = {
    val shBits = st.shCapped.withColumn("cap_all", lit(true))
      .join(st.shCorpusCapped.withColumn("cap_corpus", lit(true)),
        Seq("doc_id", "shingle"), "full_outer")
      .select(lit("sh").as("kind"), col("doc_id"), col("shingle"),
        coalesce(col("cap_all"), lit(false)).as("cap_all"),
        coalesce(col("cap_corpus"), lit(false)).as("cap_corpus"))
    Seq(
      alignToState(st.flags.select(lit("flag").as("kind"), col("doc_id"),
        col("n_tokens"), col("pass"))),
      alignToState(shBits),
      alignToState(st.dfAll.select(lit("dfa").as("kind"), col("shingle"),
        col("base_df"))),
      alignToState(st.dfCorpus.select(lit("dfc").as("kind"), col("shingle"),
        col("base_df"))))
      .reduce(_ unionByName _)
  }

  /** Unpack the persisted state frame into the [[BaseState]] views —
    * each view is a kind-pruned (and for the capped indexes bit-pruned)
    * scan of the committed snapshot.
    */
  def unpackState(state: DataFrame): BaseState = {
    def of(kind: String, cols: String*): DataFrame =
      state.filter(col("kind") === kind).select(cols.map(col): _*)
    val sh = state.filter(col("kind") === "sh")
    BaseState(
      flags = of("flag", "doc_id", "n_tokens", "pass"),
      dfAll = of("dfa", "shingle", "base_df"),
      shCapped = sh.filter(col("cap_all"))
        .select(col("doc_id"), col("shingle")),
      dfCorpus = of("dfc", "shingle", "base_df"),
      shCorpusCapped = sh.filter(col("cap_corpus"))
        .select(col("doc_id"), col("shingle")))
  }

  /** Where the q216 base-state snapshot chain lives for a corpus — the
    * [[graft.dedup.DedupMaintain.stateTablePath]] keying verbatim:
    * corpus fingerprint (a rewritten corpus gets a fresh chain) and the
    * tier parameters (a parameter change can never read another
    * configuration's state). Same single-writer contract.
    */
  def stateTablePath(s: SparkSession, dir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft-state/curation-plan-k$K-" +
      s"df$MaxDf-mod$BatchMod/${CorpusMemo.fingerprint(s, dir)}"

  /** Union df for BATCH shingles only — a batch-sized join against the
    * STORED df table (never a corpus re-aggregate): a shingle can cross
    * the cap only if the batch raised its df.
    */
  private def batchUnionDf(dfBatch: DataFrame,
      dfStored: DataFrame): DataFrame =
    dfBatch.join(dfStored, Seq("shingle"), "left_outer")
      .select(col("shingle"),
        coalesce(col("base_df"), lit(0L)).as("base_df"),
        (coalesce(col("base_df"), lit(0L)) + col("batch_df")).as("df"))
      .localCheckpoint()

  /** (df table, capped index) for one universe — stored state, so a run
    * never re-aggregates the corpus (the sf10 profile had two
    * full-shingle groupBys + a corpus-scale capped-union checkpoint per
    * run, ~70 s; both live in the snapshot exactly like q213's packed
    * state).
    */
  private def dfAndCapped(sh: DataFrame): (DataFrame, DataFrame) = {
    val df = sh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("base_df")).localCheckpoint()
    val capped = sh.join(df.filter(col("base_df") <= MaxDf)
        .select(col("shingle")), Seq("shingle"), "left_semi")
      .localCheckpoint()
    (df, capped)
  }

  /** Build the base state of `base` (the corpus minus its batch). */
  def buildBaseState(base: DataFrame): BaseState = {
    val flags = QualityRules.qualityFlags(base.filter(col("source") =!= "src0"))
      .select(col("doc_id"), col("n_tokens"), col("pass")).localCheckpoint()
    val shAll = Dedup.shingles(base, K).localCheckpoint()
    val (dfAll, shCapped) = dfAndCapped(shAll)
    val shCorpus = shAll.join(flags.select(col("doc_id")), Seq("doc_id"),
      "left_semi")
    val (dfCorpus, shCorpusCapped) = dfAndCapped(shCorpus)
    CorpusMemo.unpersistCheckpoints(shAll)
    BaseState(flags, dfAll, shCapped, dfCorpus, shCorpusCapped)
  }

  /** The PERSISTED packed-state frame for q216: read the committed
    * snapshot if one exists; otherwise build it once from the base
    * corpus and commit it through the snapshot protocol
    * ([[graft.stream.Ingest.advanceSnapshot]] — manifest-last,
    * object-store safe). Every call after the first — including every
    * future session over the unchanged corpus — prices only the
    * recompute (the build's localCheckpoint blocks are reclaimed as
    * soon as the snapshot commits).
    */
  def persistedStateFrame(s: SparkSession, dir: String): DataFrame = {
    val table = stateTablePath(s, dir)
    val p = graft.stream.Ingest.latestSnapshotPath(s, table).getOrElse {
      graft.dedup.DedupMaintain.pruneStaleChains(s, table)
      val st = buildBaseState(Tables.documents(s, dir).filter(!isBatch))
      // Range-cluster the snapshot by kind on write (guide §6): the read
      // path scans the table once per view, so kind-clustered files +
      // row groups let every scan skip the other kinds' bytes via
      // min/max stats. The range exchange is AQE-coalesced — one file
      // on a small corpus, shuffle.partitions kind-runs at scale.
      val path = graft.stream.Ingest.advanceSnapshot(s, table,
        emptyState(s)) { _ =>
        packState(st)
          .repartitionByRange(col("kind"), col("doc_id"), col("shingle"))
          .sortWithinPartitions(col("kind"), col("doc_id"), col("shingle"))
      }
      CorpusMemo.unpersistCheckpoints(st.flags, st.dfAll, st.shCapped,
        st.dfCorpus, st.shCorpusCapped)
      path
    }
    s.read.schema(StateSchema).parquet(p)
  }

  /** The union plan computed from the stored state: `docs` is the whole
    * corpus (base ∪ batch), `mediaPlan` the q209 media plan over it.
    * The df tables and capped indexes are assembled with batch-sized
    * crossing joins (rebuilding those per run would be the r15-measured
    * 70 s regression); everything else runs in full.
    */
  def rebuildPlan(st: BaseState, docs: DataFrame,
      mediaPlan: DataFrame): DataFrame = {
    val batch = docs.filter(isBatch).localCheckpoint()
    val corpusU = docs.filter(col("source") =!= "src0")
    val evalSet = docs.filter(col("source") === "src0")

    // the quality union and the shingle chain are independent eager
    // materializations: overlap them from the driver (guide §2.6)
    val (qAll, (contamAll, clustersU)) = graft.tools.Overlap.par2(
      {
        st.flags
          .unionByName(QualityRules.qualityFlags(batch)
            .select(col("doc_id"), col("n_tokens"), col("pass")))
          .localCheckpoint()
      },
      {
        val shBatch = Dedup.shingles(batch, K).localCheckpoint()
        val dfBatch = shBatch.groupBy(col("shingle"))
          .agg(count(lit(1)).as("batch_df"))
        graft.tools.Overlap.par2(
        {
          // full containment screen over the capped corpus-union view
          val dfCU = batchUnionDf(dfBatch, st.dfCorpus)
          val crossingC = dfCU.filter(col("base_df") <= MaxDf
              && col("df") > MaxDf)
            .select(col("shingle"))
          val overCapC = dfCU.filter(col("df") > MaxDf).select(col("shingle"))
          val shCU = st.shCorpusCapped.join(crossingC, Seq("shingle"),
              "left_anti")
            .unionByName(shBatch.join(overCapC, Seq("shingle"), "left_anti"))
          val shE = Dedup.shingles(evalSet, K).localCheckpoint()
          val evalSizes = shE.groupBy(col("doc_id").as("eval_id"))
            .agg(count(lit(1)).as("n_eval_sh"))
          val contamIds = shCU.as("c")
            .join(shE.as("e"), col("c.shingle") === col("e.shingle"))
            .groupBy(col("c.doc_id").as("doc_id"),
              col("e.doc_id").as("eval_id"))
            .agg(count(lit(1)).as("n_common"))
            .join(evalSizes, "eval_id")
            .filter(round(col("n_common").cast("double") / col("n_eval_sh"), 4)
              >= ContainThreshold)
            .select(col("doc_id")).distinct()
          corpusU.select(col("doc_id"))
            .join(contamIds.withColumn("c2", lit(true)), Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("c2"), lit(false)).as("contaminated"))
        },
        {
          // full pair view + CC over the capped all-union index
          val dfAU = batchUnionDf(dfBatch, st.dfAll)
          val crossingA = dfAU.filter(col("base_df") <= MaxDf
              && col("df") > MaxDf)
            .select(col("shingle"))
          val overCapA = dfAU.filter(col("df") > MaxDf).select(col("shingle"))
          val shAU = st.shCapped.join(crossingA, Seq("shingle"), "left_anti")
            .unionByName(shBatch.join(overCapA, Seq("shingle"), "left_anti"))
            .localCheckpoint()
          val common = shAU.as("a").join(shAU.as("b"),
              col("a.shingle") === col("b.shingle")
                && col("a.doc_id") < col("b.doc_id"))
            .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
            .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_common"))
          val sizes = shAU.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
          val pairsU = common
            .join(sizes.select(col("doc_id").as("id_a"), col("n_sh").as("n_a")),
              Seq("id_a"))
            .join(sizes.select(col("doc_id").as("id_b"), col("n_sh").as("n_b")),
              Seq("id_b"))
            .filter(round(col("n_common").cast("double")
              / (col("n_a") + col("n_b") - col("n_common")), 4)
              >= JaccardThreshold)
            .select(col("id_a"), col("id_b"))
          Dedup.connectedComponents(pairsU).localCheckpoint()
        })
      })

    val keepAll = corpusU.select(col("doc_id"), col("text"))
      .join(qAll.select(col("doc_id"), col("pass")), Seq("doc_id"))
      .withColumn("keeper",
        min(when(col("pass"), col("doc_id")))
          .over(Window.partitionBy(col("text"))))
      .select(col("doc_id"),
        (col("pass") && col("doc_id") === col("keeper")).as("keep"))
    val flagsU = qAll.join(keepAll, Seq("doc_id"))
      .join(contamAll, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("pass"), col("keep"),
        col("contaminated"))
    CurationPlan.planFromFlags(flagsU, clustersU, mediaPlan)
  }

  /** q216: the q214 plan of the corpus (stored base state + the %13
    * ingest batch), gated against q214's from-scratch oracle on the
    * union. The media plan is the q209-shared memo over the union.
    */
  def maintainQuery(s: SparkSession, dir: String): DataFrame =
    rebuildPlan(unpackState(persistedStateFrame(s, dir)),
      Tables.documents(s, dir),
      MediaDedup.planShared(s, dir)._2).orderBy(col("doc_id"))
}
