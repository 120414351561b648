package graft.tools

import java.sql.Timestamp
import java.time.{Instant, LocalDate, ZoneOffset}

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.Random

/** Seeded random-corpus DIFFERENTIAL FUZZ harness — the verification tier
  * above the fixed-dataset oracle gate. The driver's correctness gate
  * proves every query on ONE dataset per scale factor; boundary-heavy
  * operators (as-of tolerance edges, interval-overlap endpoints, session
  * gap ties, MERGE key collisions, IVM delete consistency) are exactly
  * where a single dataset under-samples the input space. This harness
  * generates K seeded corpora whose value distributions are CONCENTRATED
  * ON THE BOUNDARIES — inter-event gaps that land exactly on the 30-minute
  * session cut (and 1 µs past it), duplicate timestamps within a user,
  * order dates on the 7-day interval lattice (end_a == start_b), dates
  * straddling q104's snapshot split, timestamps equal to as-of keys — then
  * runs the REAL driver-gated queries (`SparkEntry.queries`, unmodified)
  * over each corpus and dumps results + the same oracle SQL the driver
  * replays, so `tools/fuzz_diff.py` can diff engine vs DuckDB per corpus.
  *
  * Reference tie: generalizes the reference's recomputation-assert test
  * pattern (`/root/reference/test_cases/` — recompute the pipeline's
  * claim independently and compare) from fixed fixtures to generated
  * inputs.
  *
  * Usage:
  *   sbt "runMain graft.tools.Fuzz /tmp/graft-fuzz 20"
  *   python3 tools/fuzz_diff.py /tmp/graft-fuzz      # → FUZZ summary
  *
  * Any divergence gets its seed pinned as a regression case in FuzzSpec
  * (none found in the round-11 sweeps: 20 seeds × 51 families — the
  * session/join, text/dedup, SCD2/PSI, spatial/MST, sketch, similarity,
  * survivorship, CDC-compaction, partition-planner, item-CF,
  * label-noise, phrase-retrieval, contribution-cap, blocking-quality,
  * survival/uncertainty and attribution sets — exact across the board;
  * FuzzSpec additionally runs the engine-side triple-parity — window-lag
  * q45 vs typed-state q122 vs native session_window q149 — on every seed,
  * three independent implementations of the same cut rule).
  */
object Fuzz {

  /** The boundary-heavy families under differential fuzz. */
  val Families: Seq[String] = Seq(
    "q39_asof_last_order", "q84_next_event",            // as-of joins
    "q43_events_after_order", "q64_overlapping_orders", // interval joins
    "q45_event_sessions", "q122_typed_sessions",        // sessionization
    "q135_ttl_sessions", "q149_session_window",
    "q127_merge_upsert", "q104_snapshot_diff",          // merge / diff
    "q152_ivm_maintain",                                // IVM
    // text/dedup families over the generated documents corpus (round 11):
    // tokenization edges (empty/short/single-token docs), planted exact +
    // near dups, repeated-token set collapse, per-doc repetition
    "q21_text_stats", "q24_dedup_exact", "q25_jaccard_pairs",
    "q27_minhash_lsh", "q28_simhash_pairs", "q92_token_jaccard_pairs",
    "q110_repeated_spans", "q142_theta_overlap", "q153_theta_sketch_only",
    // SCD2 family (validity boundaries: change/delete/reappear runs at
    // every %11/%13 residue the random keys populate) + PSI drift
    "q154_scd2_history", "q155_scd2_asof", "q157_scd2_enrich",
    "q156_psi_drift",
    // spatial family (round 11): grid/floor/modulo arithmetic under
    // boundary-concentrated keys — work-offset distances straddling the
    // r² = 40000 cut, home points sitting exactly on cell corners
    "q158_cell_density", "q159_radius_pairs", "q160_box_join",
    // MST under dense weight ties (40-part domain → shared-count
    // collisions): the lexicographic tie-break diffed against the
    // cut-property oracle on every random graph
    "q161_mst_backbone",
    // sliding HLL windows: the register replay + the engine-explode vs
    // oracle-range-join window membership under random day spans
    "q165_hll_sliding",
    // heavy changers: MG-candidate coverage vs the oracle's direct
    // deltas, under planted second-half burst users
    "q167_heavy_changers",
    // similarity tier over the seeded embeddings corpus: planted
    // scaled-copy pairs (cosine exactly 1 — the round-6 tie the
    // (cos, id) rule must break) and negated pairs (cosine −1);
    // q166 additionally replays the IVF centroid/assignment trajectory
    "q26_cosine_topk", "q166_mutual_nn",
    // CMS join-size vs exact twin under fuzz key distributions
    "q163_join_size_sketch",
    // survivorship rules (recency/presence/frequency) on the dirty
    // registry rebuilt from fuzz customers: negative balances, segment
    // collisions, %3/%6 chain residues over a random key set
    "q164_golden_record",
    // CDC compaction: tombstone/re-insert chains and same-ts seq ties
    // across whatever %3/%5/%7/%15 residues the random keys populate,
    // engine struct-max vs oracle row_number winner
    "q168_cdc_snapshot",
    // equi-depth planner: random 2-dp price distributions put rank
    // crossings on duplicate values at every seed; engine bucketed
    // prefix sum vs oracle global window
    "q169_partition_plan",
    // item-item CF: the 40-part lineitem domain makes shared-count
    // cosine collisions everywhere — the round-6 (cos, neighbor) tie
    // rule diffed per seed; map-side TopK shelf vs oracle rank window
    "q170_item_cf",
    // label-noise screen over the seeded embeddings: planted
    // scaled-copy (cos = 1) and negated (cos = -1) neighbors hit the
    // top-k boundary; random labels exercise the majority verdict
    "q171_label_noise",
    // phrase retrieval: heavy-repetition docs put OVERLAPPING matches
    // in every seed, short docs straddle the >= 3-token query rule
    "q172_phrase_search",
    // contribution capping: duplicate timestamps within a user hit the
    // (ts, event_id) reservoir tie-break; burst users clamp hard
    "q174_capped_release",
    // blocking quality: %3/%6 chain residues over each random key set
    // vary the transitive-only count; engine size-arithmetic truth vs
    // oracle recursive-CTE closure
    "q175_blocking_quality",
    // bitemporal grid: %9 assertion residues over each random key set,
    // 2-dp restated prices; engine struct-max winner vs oracle
    // row_number — two mechanisms for the (T, V) resolution rule
    "q176_bitemporal",
    // HyperBall: register propagation + exact reach replayed on the
    // dense 40-part co-purchase graph (df-cap boundary shifts per seed)
    "q177_hll_reach",
    // TextRank: short docs straddle the >= 2-candidate rule; symmetric
    // co-occurrence positions put rank ties on the round-8 boundary
    "q178_textrank",
    // MMR: planted scaled-copy (cos 1) and negated (cos -1) candidates
    // hit the top-12 cut and every greedy argmax tie
    "q179_mmr",
    // CUPED: short-walk seeds put most users entirely pre-cutoff
    // (y = 0 — the degenerate-variance guard) and midnight snaps land
    // events exactly on the cutoff timestamp
    "q180_cuped",
    // temporal reach: duplicate-ts handoffs ((ts, event_id) lag ties)
    // and midnight snaps cutting the (type, day) stream per seed
    "q182_temporal_reach",
    // KM survival: day-grain duration ties + the last_ts vs horizon−7d
    // censor cut under per-seed walk shapes
    "q184_km_survival",
    // jackknife: sparse (group, bucket) cells down to single-bucket
    // groups (the SE-0 degenerate leg)
    "q185_jackknife_ci",
    // Shapley: ts == conv_ts touches (the strictly-before boundary, hit
    // by the duplicate-ts events) and per-seed channel-set lattices
    "q186_shapley_credit",
    // harmonic centrality: the q177 registers re-read per seed, incl.
    // df-cap-emptied graphs (empty top-k both engines)
    "q187_harmonic",
    // FS linkage: per-seed m/u counts, smoothing at zero-count fields,
    // verdict thresholds on the rounded score
    "q188_fs_linkage",
    // uplift: heavy score ties sharing deciles + empty-arm NULL cells
    "q189_uplift_deciles",
    // k-anonymity: negative-balance band truncation + singleton classes
    "q190_k_anonymity",
    // DiD: empty (group, period) cells surface as NULL estimates
    "q191_diff_in_diff",
    // ANOVA: the group-ordered SSB fold at per-seed magnitudes
    "q192_anova_decomp",
    // Good-Turing: empty N_r buckets -> NULL r*, per-seed vocabularies
    "q193_good_turing",
    // isotonic: minimax over per-seed tie-heavy decile grids
    "q194_isotonic",
    // Benford: per-seed digit mixes incl. empty digit cells
    "q195_benford",
    // rank-sum: midrank halves under per-seed tie densities
    "q196_rank_sum",
    // log-rank: per-seed censoring mixes, risk-set-exhausted tails
    "q197_log_rank",
    // CUSUM: per-seed day grids incl. |nS| argmax ties (the pinned
    // latest-day convention)
    "q198_cusum",
    // stratified ATE: per-seed unsupported (one-arm) strata
    "q199_stratified_ate",
    // release funnel: per-seed dup/short/contaminated doc mixes hit
    // every stage's cut
    "q200_release_funnel",
    // weighted quantiles: per-seed weight skews hit the exact ceil
    // thresholds (q201 joins via the lineitem generator's l_quantity)
    "q201_weighted_quantiles",
    // ---- round-12 wave: the rounding-boundary class the q199 find
    // proved (Spark rounds the double's shortest decimal string,
    // DuckDB the approximate exact value — they part when a
    // data-dependent quotient's shortest string lands exactly on the
    // half grid). Every family below emits rounded quotients of
    // seed-dependent aggregates, so each 20-seed sweep samples the
    // boundary ~running the gate 20 more times; plus the q202/q203
    // image corpus (doc_id-derived, dense groups of 4 per seed).
    "q35_value_percentiles",   // interpolated percentile arithmetic
    "q37_ivf_ann_topk",        // centroid means + cosine ratios
    "q47_winsorized_stats",    // clamped means at per-seed cut ranks
    "q48_curation",            // quality-score quotients
    "q49_zscores",             // (x−μ)/σ — the archetype quotient
    "q61_repetition_stats",    // per-doc repetition ratios
    "q72_corr_matrix",         // six rounded correlation quotients
    "q77_mad_outliers",        // median/MAD scaled deviations
    "q95_association_rules",   // support/confidence/lift quotients
    "q98_gini_spend",          // Lorenz-fold Gini ratio
    "q102_hybrid_rrf",         // reciprocal-rank fusion sums
    "q103_seasonal_anomalies", // seasonal-baseline residual ratios
    "q113_mixture_plan",       // mixture-weight renormalizations
    "q118_scalar_quantization",// min-max scale quotients + recon error
    "q125_drift_report",       // PSI/JS drift deltas
    "q126_jl_projection",      // distance-ratio band census
    "q129_corpus_card",        // corpus-level ratio panel
    "q132_source_divergence",  // KL/JS divergence quotients
    "q134_semdedup_trained",   // trained-centroid cosine thresholds
    "q143_cm_quantiles",       // sketch-rank vs exact-rank ratios
    "q181_conformal",          // split-conformal quantile arithmetic
    "q202_image_near_dup",     // perceptual aHash banding per seed
    "q203_image_dhash_pairs",  // gradient dHash banding per seed
    // audio/video content legs: the doc_id-keyed corpora re-derive per
    // seed (each random documents key set shifts the planted mod-4
    // near-dup groups and mod-3 scene lengths), replaying the full
    // decode -> fingerprint -> band/cut chain against DuckDB
    "q204_audio_near_dup",     // energy-delta fingerprint banding
    "q205_video_keyframes",    // per-frame hash + scene-cut threshold
    // PQ: per-seed embedding corpora (planted scaled-copy/negated
    // pairs) re-train the subspace codebooks — the Lloyd argmin ties,
    // empty-cluster drops and integer micro conversions per seed
    "q206_pq_codebook",        // trained codebook audit (all-integer)
    "q207_pq_adc_topk",        // ADC integer distance sums
    "q208_ivfpq_topk",         // coarse routing + residual PQ + ADC
    // media dedup plan: per-seed doc_id sets shift the planted pair
    // graph; engine star-contraction CC vs oracle recursive min-label
    "q209_media_dedup_plan",
    // video near-dup (round 13): per-seed doc_id sets shift the planted
    // 4k+2/4k+3 splice groups and scene lengths — engine inverted-index
    // candidates + integer Jaccard vs oracle brute-force set scan
    "q210_video_near_dup",
    // incremental IVF-PQ maintenance (round 13): per-seed embedding
    // corpora re-train the base codebooks and shift the %5 batch split;
    // the maintained-vs-rebuilt law, batch SSE and PSI replayed per seed
    "q211_vector_index_maintain",
    // recall curve (round 13): per-seed corpora move every probe
    // ranking and exact-truth boundary; the planted scaled-copy pairs
    // (cos = 1, tiny L2) sit in most truth sets by construction
    "q212_pq_recall_curve",
    // ---- the iterative-graph family (round 13): the most intricate
    // unrolled-round oracles in the repo (fixed-iteration PageRank with
    // dangling mass, BFS frontiers, wedge counts, mutual-degree
    // pruning, Adamic-Adar, Bellman-Ford relax rounds) over the
    // adversarial generator structures — dense rank/weight ties,
    // the hub-supplier star, pendant leaves, reserved-range island
    // components, and whatever the df cap disconnects per seed
    "q57_pagerank", "q58_bfs_depths", "q69_triangle_counts",
    "q94_kcore", "q145_link_prediction", "q146_weighted_paths",
    // incremental dedup-index maintenance (round 13): the 30-word
    // vocabulary makes trigram df crossings routine, and the planted
    // exact/near-dup and shared-prefix docs straddle the %7 batch
    // split per seed — kept/recomputed legs, retractions and the
    // maintained ≡ from-scratch law all exercised on every corpus
    "q213_dedup_index_maintain",
    // ERASURE maintenance (round 15): per-seed corpora shift which
    // trigram dfs sit just above the cap, so deleting the %9 slice
    // un-crosses different shingles per seed — resurrections, dropped
    // partner pairs and the survivors' from-scratch law all replayed
    "q215_dedup_index_delete",
    // media-plan erasure (round 15): per-seed doc_id sets shift which
    // planted clusters lose a member — evaporated partners, kept-leg
    // carryover and the survivor re-closure replayed per seed by the
    // oracle's second recursive walk
    "q217_media_plan_delete",
    // curation plan rebuilt from stored state (round 15): per-seed %13
    // batches shift text groups, df-cap crossings, cluster merges and
    // media edges; the oracle is q214's from-scratch plan, so each seed
    // replays the rebuild law at the plan grain — and q214's own
    // surface transitively
    "q216_curation_plan_maintain")

  private val MicrosPerDay = 86400L * 1000000L
  private def midnightUs(d: LocalDate): Long =
    d.atStartOfDay(ZoneOffset.UTC).toInstant.getEpochSecond * 1000000L
  private def tsOf(us: Long): Timestamp =
    Timestamp.from(Instant.ofEpochSecond(us / 1000000L,
      (us % 1000000L) * 1000L))

  /** Seeded orders corpus (~240 rows, 32 users). Date mix: 40% straddle
    * the q104 snapshot cut (1997–1999, around 1998-06-01); 60% live in
    * the events era (2024-01) ON THE 7-DAY LATTICE with probability 1/2,
    * so interval ends coincide exactly (end_a == start_b — the half-open
    * vs closed overlap boundary) and forward-as-of tolerances (7 days)
    * land exactly on their edge. Keys are 0..n−1 (unique, dense — the
    * %5/%3/%7/%10/%89/%97 branches of q127/q152/q104 all populate).
    */
  def genOrders(spark: SparkSession, seed: Int): DataFrame = {
    val rnd = new Random(seed * 7919 + 1)
    val statuses = Array("F", "O", "P")
    val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val oldBase = LocalDate.of(1997, 1, 1)
    val newBase = LocalDate.of(2024, 1, 1)
    val rows = (0 until 240).map { i =>
      val dateUs =
        if (rnd.nextInt(5) < 2)
          midnightUs(oldBase.plusDays(rnd.nextInt(1095).toLong)) // straddles 1998-06-01
        else {
          val d =
            if (rnd.nextBoolean()) rnd.nextInt(5) * 7              // exact 7-day lattice
            else rnd.nextInt(5) * 7 + 1 + rnd.nextInt(6)           // off-lattice
          midnightUs(newBase.plusDays(d.toLong))
        }
      (i.toLong, rnd.nextInt(32).toLong, statuses(rnd.nextInt(3)),
        (rnd.nextInt(40000000) + 100) / 100.0, tsOf(dateUs),
        prios(rnd.nextInt(5)))
    }
    spark.createDataFrame(rows).toDF("o_orderkey", "o_custkey",
      "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
  }

  /** Seeded events corpus (~900 rows, 32 users): per-user random walks
    * from 2024-01-01 whose increments hit the session-cut boundary hard —
    * 25% exactly 30 min (MERGES: the cut is diff > gap), 10% 30 min + 1 µs
    * (SPLITS), 10% zero (duplicate ts within a user — the (t, event_id)
    * tie-break), 10% snap-to-next-midnight (as-of equality with order
    * dates), rest uniform in (0, 45 min] at µs grain. event_ids are
    * assigned in global ts order like the driver corpus.
    */
  def genEvents(spark: SparkSession, seed: Int): DataFrame = {
    val rnd = new Random(seed * 104729 + 2)
    val types = Array("click", "purchase", "signup", "error", "view")
    val base = midnightUs(LocalDate.of(2024, 1, 1))
    val gapUs = 30L * 60L * 1000000L
    var tMax = base
    val raw = (0 until 32).flatMap { user =>
      var t = base + rnd.nextInt(7 * 24 * 60).toLong * 60L * 1000000L
      val n = 12 + rnd.nextInt(34)
      (0 until n).map { _ =>
        val inc = rnd.nextInt(20) match {
          case x if x < 5 => gapUs                       // exact boundary
          case x if x < 7 => gapUs + 1L                  // 1 µs past it
          case x if x < 9 => 0L                          // duplicate ts
          case x if x < 11 =>                            // snap to midnight
            ((t / MicrosPerDay) + 1L) * MicrosPerDay - t
          case _ => 1000000L + rnd.nextLong(45L * 60L * 1000000L)
        }
        t += inc
        if (t > tMax) tMax = t
        (tsOf(t), user.toLong, types(rnd.nextInt(5)),
          (rnd.nextInt(20000) + 1) / 100.0, s"""{"k": ${rnd.nextInt(100)}}""")
      }
    }
    // burst users (~1 in 7): a late activity surge appended past every
    // walk's end, so the extra events take the TOP event_ids — the
    // planted second-half heavy-changer signal q167 selects on (and a
    // late-session tail for the session families)
    val burst = (0 until 32).filter(_ % 7 == 0).flatMap { user =>
      var t = tMax + (user + 1).toLong * 60L * 1000000L
      val n = 25 + rnd.nextInt(20)
      (0 until n).map { _ =>
        t += 1000000L + rnd.nextLong(5L * 60L * 1000000L)
        (tsOf(t), user.toLong, types(rnd.nextInt(5)),
          (rnd.nextInt(20000) + 1) / 100.0, s"""{"k": ${rnd.nextInt(100)}}""")
      }
    }
    val ordered = (raw ++ burst).sortBy(_._1.getTime).zipWithIndex.map {
      case ((ts, u, ty, v, p), i) => (i.toLong, ts, u, ty, v, p)
    }
    spark.createDataFrame(ordered).toDF("event_id", "ts", "user_id",
      "event_type", "value", "props")
  }

  /** Seeded documents corpus (~300 docs, 8 sources, 5 langs) over a
    * small shared vocabulary, concentrated on the text/dedup boundaries:
    * ~1/12 exact duplicates, ~1/8 near duplicates (~15% word mutations
    * of an earlier doc), ~1/10 SHORT docs (0–4 tokens — straddles every
    * `size(toks) >= k` shingle filter), ~1/12 heavy-repetition docs
    * (one word repeated — the Jaccard set-collapse and repeated-span
    * edge), plus docs sharing a long common prefix (span boundary).
    */
  def genDocuments(spark: SparkSession, seed: Int): DataFrame = {
    val rnd = new Random(seed * 15485863 + 3)
    val vocab = Array("spark", "query", "row", "data", "join", "filter",
      "window", "scan", "merge", "sort", "table", "key", "order", "agg",
      "group", "hash", "vector", "fast", "slow", "small", "large", "part",
      "line", "customer", "stream", "column", "the", "a", "of", "and")
    val langs = Array("en", "es", "de", "fr", "zh")
    def fresh(len: Int): String =
      Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until 300).foreach { i =>
      val t = rnd.nextInt(24) match {
        case 0 | 1 if texts.nonEmpty =>                 // exact duplicate
          texts(rnd.nextInt(texts.length))
        case 2 | 3 | 4 if texts.nonEmpty =>             // near duplicate
          texts(rnd.nextInt(texts.length)).split(" ").map(w =>
            if (rnd.nextInt(7) == 0) vocab(rnd.nextInt(vocab.length)) else w)
            .mkString(" ")
        case 5 | 6 => fresh(rnd.nextInt(5))             // short (0-4 tokens)
        case 7 =>                                        // heavy repetition
          val w = vocab(rnd.nextInt(vocab.length))
          Seq.fill(8 + rnd.nextInt(40))(w).mkString(" ")
        case 8 | 9 if texts.nonEmpty =>                 // shared long prefix
          val base = texts(rnd.nextInt(texts.length))
          base.split(" ").take(12).mkString(" ") + " " + fresh(6 + rnd.nextInt(20))
        case _ => fresh(5 + rnd.nextInt(80))
      }
      texts += t
    }
    val rows = texts.toSeq.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, langs(rnd.nextInt(5)), s"src${rnd.nextInt(8)}",
        t.length.toLong)
    }
    spark.createDataFrame(rows)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Seeded lineitem facts: 1–8 lines per order (l_linenumber 1..8 ⇒
    * transaction versions 1..4 twice over, so every validity boundary of
    * the q157 SCD2 history is probed) plus an l_partkey from a SMALL
    * domain (40 parts), so the q161 co-purchase projection gets dense
    * shared-part collisions — weight ties everywhere, the MST
    * tie-break's hard case.
    *
    * Round-13 adversarial GRAPH structures (the iterative-family fuzz —
    * q57/q58/q69/q94/q145/q146):
    *   - `l_suppkey` (own RNG stream, so the pre-existing draws are
    *     bit-stable): a dense 12-supplier domain (rank/degree ties on
    *     every PageRank round), a HUB supplier on ~15% of lines (a
    *     degenerate star center of the purchase graph), per-order
    *     PENDANT suppliers (degree-1 leaves — the BFS frontier tail),
    *     and a 3-supplier near-island cluster.
    *   - planted part rows (line numbers 9/10 — unique per order,
    *     outside the 1..8 draw range): orders 0..4 carry two parts from
    *     a reserved range nothing else touches (2-vertex ISLAND
    *     components the CC/AA/BFS legs must keep disconnected), and hub
    *     part 850 rides orders 6..20 with one unique leaf each (a
    *     15-leaf STAR that survives the df ≤ 18 cap). Every planted
    *     co-purchase edge has shared_count 1 — maximal weight ties.
    */
  def genLineitem(spark: SparkSession, seed: Int): DataFrame = {
    val rnd = new Random(seed * 32452843 + 4)
    val srnd = new Random(seed * 104651 + 9)
    // q201 columns: quantities skew heavily (1 or a 10-50 burst) so the
    // weighted-quantile ceil thresholds land ON cum-weight boundaries;
    // prices from a small 2-dp domain so value-grain ties are dense
    val flags = Array("A", "N", "R")
    // q72 correlation columns: 2-dp discount/tax from SMALL domains so
    // the correlation quotients hit dense value ties and the rounded
    // outputs sample the q199 shortest-string boundary per seed
    val rows = (0 until 240).flatMap { ok =>
      (1 to 1 + rnd.nextInt(8)).map { ln =>
        val sk = srnd.nextInt(20) match {
          case x if x < 12 => srnd.nextInt(12).toLong // dense tie domain
          case x if x < 15 => 40L                     // the hub (star)
          case x if x < 18 => 100L + ok               // pendant leaf
          case _ => 1000L + ok % 3                    // near-island trio
        }
        (ok.toLong, ln, rnd.nextInt(40).toLong,
          if (rnd.nextBoolean()) 1L else 10L + rnd.nextInt(41),
          (rnd.nextInt(200) + 1) * 25 / 100.0,
          flags(rnd.nextInt(3)),
          rnd.nextInt(11) / 100.0,
          rnd.nextInt(9) / 100.0,
          sk)
      }
    }
    val planted =
      (0 until 5).flatMap { ok => Seq(
        (ok.toLong, 9, 900L + ok * 2, 1L, 25.0, "N", 0.0, 0.0,
          (ok % 12).toLong),
        (ok.toLong, 10, 901L + ok * 2, 1L, 25.0, "N", 0.0, 0.0,
          (ok % 12).toLong))
      } ++
      (6 to 20).flatMap { ok => Seq(
        (ok.toLong, 9, 850L, 1L, 25.0, "N", 0.0, 0.0, (ok % 12).toLong),
        (ok.toLong, 10, 851L + ok, 1L, 25.0, "N", 0.0, 0.0,
          (ok % 12).toLong))
      }
    spark.createDataFrame(rows ++ planted)
      .toDF("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
        "l_extendedprice", "l_returnflag", "l_discount", "l_tax",
        "l_suppkey")
  }

  /** Seeded customer keys for the spatial family (~350 unique keys),
    * concentrated on the spatial fixture's boundaries. The work-point
    * offset pair is a pure function of k mod 401 (both offset hashes
    * share the modulus), and NO residue lands exactly on dist² = 40000 —
    * the closest are r ≡ 91 (39978, just inside) and r ≡ 126 (40042,
    * just outside), so ~40% of keys concentrate on those two residues to
    * hammer both sides of the radius cut. ~15% are ≡ 0 mod 256: both
    * home coordinates then land exactly on a 256-grid cell corner (the
    * floor boundary). ~10% are ~1e9-scale (big-modulus arithmetic,
    * still far from BIGINT-multiply overflow, where the engines'
    * wrap-vs-raise semantics would legitimately diverge). Rest uniform.
    */
  def genCustomer(spark: SparkSession, seed: Int): DataFrame = {
    val rnd = new Random(seed * 49979687 + 5)
    val keys = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (keys.size < 350) {
      val k = rnd.nextInt(20) match {
        case x if x < 4 => rnd.nextInt(250).toLong * 401L + 91L
        case x if x < 8 => rnd.nextInt(250).toLong * 401L + 126L
        case x if x < 11 => (1L + rnd.nextInt(400).toLong) * 256L
        case x if x < 13 => 1000000000L + rnd.nextInt(100000).toLong
        case _ => 1L + rnd.nextInt(100000).toLong
      }
      keys += k
    }
    // payload columns for the q164 survivorship family: unique names
    // (the ER link keys are email/phone, derived from the key — names
    // are pure payload), 2-dp balances incl. negatives, segments from a
    // small set so the frequency rule sees collisions
    val segs = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY")
    // c_nationkey from the key (25 nations like the driver corpus) — the
    // q190 QI column; negative-balance keys land in band 0 (DIV truncates)
    val rows = keys.toSeq.map { k =>
      (k, f"Customer#$k%09d",
        (rnd.nextInt(2000000) - 99999) / 100.0, segs(rnd.nextInt(5)),
        (k % 25L).toInt)
    }
    spark.createDataFrame(rows)
      .toDF("c_custkey", "c_name", "c_acctbal", "c_mktsegment",
        "c_nationkey")
  }

  /** Seeded embeddings corpus (200 vectors, dim 16, 3-dp floats in
    * (−1, 1], no zero vectors) for the similarity families: every 10th
    * vector is an EXACT 0.5-scaled copy of its predecessor (cosine
    * exactly 1 up to the shared fold — a planted mutual-NN pair with a
    * tie the (round 6, id) rule must break), and every 25th is the
    * NEGATION of its predecessor (cosine −1 — the bottom boundary).
    */
  def genEmbeddings(spark: SparkSession, seed: Int): DataFrame = {
    val rnd = new Random(seed * 67867967 + 7)
    def fresh(): Array[Float] = {
      val a = Array.fill(16)((rnd.nextInt(1999) - 999) / 1000.0f)
      if (a.forall(_ == 0.0f)) { a(0) = 0.001f }
      a
    }
    val vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    (0 until 200).foreach { i =>
      val v =
        if (i % 10 == 9 && vecs.nonEmpty) vecs(i - 1).map(_ * 0.5f)
        else if (i % 25 == 24 && vecs.nonEmpty) vecs(i - 1).map(x => -x)
        else fresh()
      vecs += v
    }
    val rows = vecs.toSeq.zipWithIndex.map { case (v, i) =>
      (i.toLong, v.toSeq, rnd.nextInt(5))
    }
    spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
  }

  /** Seeded nation dimension for the q160 box family: 10–30 geofence
    * keys (the box corners are a pure function of the key, so varying
    * the key set varies the box layout per seed).
    */
  def genNation(spark: SparkSession, seed: Int): DataFrame = {
    val rnd = new Random(seed * 86028121 + 6)
    val n = 10 + rnd.nextInt(21)
    spark.createDataFrame((0 until n).map(i => (i, f"N$i%02d")))
      .toDF("n_nationkey", "n_name")
  }

  def writeCorpus(spark: SparkSession, seed: Int, dir: String): Unit = {
    genOrders(spark, seed).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/orders.parquet")
    genEvents(spark, seed).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/events.parquet")
    genDocuments(spark, seed).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    genLineitem(spark, seed).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/lineitem.parquet")
    genCustomer(spark, seed).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/customer.parquet")
    genNation(spark, seed).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/nation.parquet")
    genEmbeddings(spark, seed).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val root = if (args.nonEmpty) args(0) else "/tmp/graft-fuzz"
    val nSeeds = if (args.length > 1) args(1).toInt else 20
    // dev-loop filter (args(2) = comma list): re-run a subset of
    // families into an existing sweep dir after an engine fix — the
    // corpora are seed-deterministic, so outputs stay consistent with
    // the other families' existing dumps
    val only: Set[String] = if (args.length > 2)
      args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet
    else Families.toSet
    require(only.subsetOf(Families.toSet),
      s"unknown families: ${(only -- Families.toSet).mkString(",")}")
    val spark = graft.SessionDefaults(SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val queries = graft.SparkEntry.queries.filter(q => only.contains(q._1))
    require(queries.size == only.size, "unknown family name")
    (0 until nSeeds).foreach { seed =>
      val dir = s"$root/s$seed"
      writeCorpus(spark, seed, dir)
      queries.foreach { case (name, fn) =>
        fn(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/out/$name")
      }
      spark.catalog.clearCache()
      println(s"[fuzz] seed $seed done")
    }
    // one oracle_sql.json at the root (the SQL is corpus-independent)
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = graft.SparkEntry.oracleSql
      .filter(kv => Families.contains(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/oracle_sql.json"), json)
    spark.stop()
  }
}
