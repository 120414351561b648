package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col, count, explode, lit}
import org.apache.spark.sql.execution.{FileSourceScanExec, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike

import graft.SparkSpec
import graft.operators.PlanWalk

/** Plan-shape regressions: the scale properties §"Scale design notes" of
  * the README claims — filter pushdown to the scan, narrow ReadSchema,
  * broadcast dims, top-k without a global sort — asserted on the actual
  * physical plans so a refactor can't silently lose them.
  */
class PlanSpec extends SparkSpec {

  val dir = "/root/testdata/sf0.001"

  def scans(df: DataFrame): Seq[FileSourceScanExec] =
    PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec => f
    }

  test("q01: shipdate filter is pushed to the parquet scan; schema is pruned") {
    val df = CoreQueries.pricingSummary(spark, dir)
    val scan = scans(df).head
    assert(scan.metadata("PushedFilters").contains("LessThan(l_shipdate"),
      scan.metadata("PushedFilters"))
    // 11-column table, 6-column read
    assert(scan.schema.fieldNames.length == 6, scan.schema.fieldNames.mkString(","))
    assert(!scan.schema.fieldNames.contains("l_partkey"))
  }

  test("q16: both dimension joins broadcast (no shuffle join for dims)") {
    val df = CoreQueries.nationRevenue(spark, dir)
    val broadcasts = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case b: BroadcastExchangeLike => b
    }
    assert(broadcasts.size == 2, df.queryExecution.executedPlan.toString)
  }

  test("q03: global top-k plans as TakeOrderedAndProject, not sort-all") {
    val df = CoreQueries.topOrders(spark, dir)
    val topk = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case t: TakeOrderedAndProjectExec => t
    }
    assert(topk.nonEmpty, df.queryExecution.executedPlan.toString)
  }

  test("q19: JSON parse sits above the sort (no double execution via sampling)") {
    val df = CoreQueries.jsonExtract(spark, dir)
    val plan = df.queryExecution.optimizedPlan.toString
    // the Sort's child must not contain the json expression
    val sortIdx = plan.indexOf("Sort")
    val jsonIdx = plan.indexOf("get_json_object")
    assert(sortIdx >= 0 && jsonIdx >= 0 && jsonIdx < sortIdx, plan)
  }

  test("q25/q27/q28: pair mining never plans a cartesian or nested-loop join") {
    // The 100 TB-safety property of the dedup family: candidates come from
    // bucketed equi-joins (inverted index / LSH bands / SimHash chunks) —
    // a CartesianProduct or BroadcastNestedLoopJoin anywhere means a
    // refactor silently degraded to all-pairs.
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val mining = Seq(
      "q25" -> graft.dedup.Dedup.jaccardQuery(spark, dir),
      "q27" -> graft.dedup.Dedup.minhashQuery(spark, dir),
      "q28" -> graft.dedup.Dedup.simhashQuery(spark, dir))
    mining.foreach { case (name, df) =>
      val bad = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
        case c: CartesianProductExec => c
        case b: BroadcastNestedLoopJoinExec => b
      }
      assert(bad.isEmpty, s"$name planned ${bad.map(_.nodeName)}:\n"
        + df.queryExecution.executedPlan.toString)
    }
    spark.catalog.clearCache() // the pair miners cache intermediates
  }

  test("q145/q146/q148: the round-10 graph/ANN operators never plan a raw cartesian") {
    // Same 100 TB-safety property as the dedup-family pin: wedges come
    // from the z-keyed self-join, relax candidates from the vertex-keyed
    // edge join, k-NN candidates from the list-keyed index join — a
    // CartesianProduct anywhere means all-pairs crept back in. (q148's
    // broadcast of the √n-sized codebook is a hinted BroadcastNestedLoop
    // by construction, so only the raw cartesian is banned there.)
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val strict = Seq(
      "q145" -> graft.graph.LinkPrediction.linkPredictionQuery(spark, dir),
      "q146" -> graft.graph.WeightedPaths.weightedPathsQuery(spark, dir))
    strict.foreach { case (name, df) =>
      val bad = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
        case c: CartesianProductExec => c
        case b: BroadcastNestedLoopJoinExec => b
      }
      assert(bad.isEmpty, s"$name planned ${bad.map(_.nodeName)}:\n"
        + df.queryExecution.executedPlan.toString)
    }
    val knn = graft.similarity.KnnClassify.knnConfusionQuery(spark, dir)
    val raw = PlanWalk.collectPlan(knn.queryExecution.executedPlan) {
      case c: CartesianProductExec => c
    }
    assert(raw.isEmpty, knn.queryExecution.executedPlan.toString)
  }

  test("q94: the k-core peel joins hash, never sort-merge, even when the " +
    "survivor side cannot broadcast") {
    // The 100× regression this pins: once the survivor set outgrew the
    // broadcast threshold, the un-hinted peel silently degraded to three
    // sort-merge sorts of the 117M-row edge set per round (SCALING.md
    // round-10 appendix). Broadcast is disabled here to simulate the
    // at-scale condition at sf0.001 — the shuffle_hash hint must hold
    // the plan sort-free.
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val b = graft.graph.PageRank.purchaseEdgesInt(spark, dir)
      val e = b.union(b.select(col("dst").as("src"), col("src").as("dst")))
      val keep = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= 10).select(col("src"))
      val plan = PlanWalk.executedPlanOf(graft.graph.KCore.peelJoin(e, keep))
      // only the PEEL's semi-joins are pinned — the one-time edge
      // derivation (orders⋈lineitem) legitimately sort-merges under this
      // test's disabled-broadcast conf and is not the per-round hot path
      import org.apache.spark.sql.catalyst.plans.LeftSemi
      val smj = PlanWalk.collectPlan(plan) {
        case s: SortMergeJoinExec if s.joinType == LeftSemi => s
      }
      val shj = PlanWalk.collectPlan(plan) {
        case s: ShuffledHashJoinExec if s.joinType == LeftSemi => s
      }
      assert(smj.isEmpty, s"peel planned sort-merge semi-joins:\n$plan")
      // ≥ 2: Catalyst may push the semi-joins through the symmetrizing
      // union, duplicating them per branch — still hash, still sort-free
      assert(shj.size >= 2, s"expected shuffled-hash semi-joins:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q45/q46: one keyed shuffle each (plus only the output-order sort)") {
    // Sessionization: both windows AND the final rollup ride the single
    // user_id exchange (the group-by's distribution is satisfied by the
    // window partitioning). Rolling revenue: one custkey exchange for the
    // RANGE frame. The second exchange in each is the deterministic
    // output ORDER BY's range partitioning — no other shuffle allowed.
    assert(graft.operators.Bucketing.numShuffles(
      CoreQueries.eventSessions(spark, dir)) == 2)
    assert(graft.operators.Bucketing.numShuffles(
      CoreQueries.rollingRevenue(spark, dir)) == 2)
  }

  test("q53: bipartite containment join is bucketed, never cartesian") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val df = graft.dedup.Dedup.containmentQuery(spark, dir)
    val bad = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case c: CartesianProductExec => c
      case b: BroadcastNestedLoopJoinExec => b
    }
    assert(bad.isEmpty, df.queryExecution.executedPlan.toString)
    spark.catalog.clearCache()
  }

  test("q54: all six window functions share one keyed sort") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = CoreQueries.windowSuite(spark, dir)
    val windows = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case w: WindowExec => w
    }
    // identical partition+order spec → Catalyst collapses to one Window
    // node (one shuffle, one sort) feeding all six functions
    assert(windows.size == 1, df.queryExecution.executedPlan.toString)
    assert(graft.operators.Bucketing.numShuffles(df) == 2) // window + output sort
  }

  test("q24/q48: exact dedup never hash-partitions on the document text") {
    // The 100 TB shuffle-key property: the dedup exchange partitions on
    // the 8-byte xxhash64, not the multi-KB text — no shuffle anywhere in
    // either variant may hash-partition a string column. (The window /
    // group key keeps (hash, text) for exactness, but distribution is
    // satisfied by the hash alone.)
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.StringType
    val docs = graft.Tables.documents(spark, dir)
    for ((name, df) <- Seq(
        "q24/exact" -> graft.dedup.Dedup.exact(docs),
        "q48/exactKeepRows" -> graft.dedup.Dedup.exactKeepRows(docs))) {
      val stringKeyed = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
        case e: ShuffleExchangeLike => e.outputPartitioning
      }.collect {
        case h: HashPartitioning
            if h.expressions.exists(_.dataType == StringType) => h
      }
      assert(stringKeyed.isEmpty,
        s"$name hash-partitions on a string: ${stringKeyed.mkString("; ")}")
    }
    // and hash-bucketing didn't buy an extra exchange: one hash shuffle
    // (+ the output-order range exchange for q24)
    assert(graft.operators.Bucketing.numShuffles(
      graft.dedup.Dedup.exact(docs)) == 2)
    assert(graft.operators.Bucketing.numShuffles(
      graft.dedup.Dedup.exactKeepRows(docs)) == 1)
  }

  test("q39: the as-of sweep plans ONE keyed shuffle and zero join operators") {
    // the union-and-sweep's whole point: an as-of join that is NOT a join
    // — no |left|×|rights| intermediate can exist if there is no join node
    // at all, and the single exchange is the one hash shuffle on the key
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.functions.col
    val e = graft.Tables.events(spark, dir).select("event_id", "user_id", "ts")
    val o = graft.Tables.orders(spark, dir)
      .select(col("o_custkey").as("user_id"), col("o_orderdate"), col("o_orderkey"))
    val df = graft.operators.AsOfJoin.backward(
      e, o, "user_id", "ts", "o_orderdate", Seq("o_orderkey"))
    val joins = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case j: BaseJoinExec => j
    }
    assert(joins.isEmpty, s"as-of planned joins: ${joins.map(_.nodeName)}")
    val windows = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case w: WindowExec => w
    }
    assert(windows.size == 1, df.queryExecution.executedPlan.toString)
    assert(graft.operators.Bucketing.numShuffles(df) == 1)
  }

  test("q43: range join is a bucketed equi-join, never a per-key cross product") {
    import org.apache.spark.sql.execution.joins.{BaseJoinExec,
      BroadcastNestedLoopJoinExec, CartesianProductExec}
    val df = graft.operators.RangeJoin.eventsAfterOrderQuery(spark, dir)
    val joins = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case j: BaseJoinExec => j
    }
    assert(!joins.exists(j => j.isInstanceOf[CartesianProductExec]
      || j.isInstanceOf[BroadcastNestedLoopJoinExec]),
      df.queryExecution.executedPlan.toString)
    // the interval join must carry BOTH keys — the equi key AND the time
    // bucket; losing __bucket from the join keys silently reverts to the
    // per-key cross product the operator exists to avoid
    assert(joins.exists(_.leftKeys.length >= 2),
      joins.map(j => s"${j.nodeName}(${j.leftKeys.length} keys)").mkString(", "))
  }

  test("q61: one doc-keyed hash exchange feeds both stacked aggregations") {
    // the repartition sits BEFORE the explode: the shuffle carries doc
    // rows, and both groupBys ((doc_id, g), then (doc_id)) ride it — the
    // only other exchange is the output-order range partitioning
    val df = graft.text.TextOps.repetitionQuery(spark, dir)
    assert(graft.operators.Bucketing.numShuffles(df) == 2,
      df.queryExecution.executedPlan.toString)
  }

  test("q65: the funnel shuffles events once, not once per stage") {
    // three conditional-min windows + the per-user reduction all ride one
    // user_id exchange; the only other exchange is the single-row scalar
    // aggregate. (The equivalent three-join chain — the oracle's
    // formulation — would shuffle the events table three times.)
    val df = CoreQueries.funnel(spark, dir)
    assert(graft.operators.Bucketing.numShuffles(df) == 2,
      df.queryExecution.executedPlan.toString)
  }

  test("q69: wedge enumeration never plans a cartesian or nested-loop join") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val df = graft.graph.Triangles.trianglesQuery(spark, dir)
    val bad = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case c: CartesianProductExec => c
      case b: BroadcastNestedLoopJoinExec => b
    }
    assert(bad.isEmpty, df.queryExecution.executedPlan.toString)
    spark.catalog.clearCache() // the oriented edge set is cached
  }

  test("q71: unpivot plans ONE lineitem scan (Expand), not one per metric") {
    val df = CoreQueries.unpivotMetrics(spark, dir)
    assert(scans(df).size == 1, df.queryExecution.executedPlan.toString)
  }

  test("q72: all six correlations ride one scan and one scalar aggregate") {
    val df = CoreQueries.corrMatrix(spark, dir)
    assert(scans(df).size == 1, df.queryExecution.executedPlan.toString)
  }

  test("q73: the gap-fill join broadcasts the daily aggregate (no fact shuffle for the join)") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = graft.operators.TimeSeries.gapFillQuery(spark, dir)
    val bhj = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case b: BroadcastHashJoinExec => b
    }
    assert(bhj.nonEmpty, df.queryExecution.executedPlan.toString)
  }

  test("q75: one doc-keyed exchange feeds both entropy aggregations") {
    // same repartition-before-explode discipline as q61
    val df = graft.text.TextOps.entropyQuery(spark, dir)
    assert(graft.operators.Bucketing.numShuffles(df) == 2,
      df.queryExecution.executedPlan.toString)
  }

  test("q78: bounded LISTAGG is an object-hash aggregate — no window, no group sort") {
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = CoreQueries.topCustomerList(spark, dir)
    assert(PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case w: WindowExec => w
    }.isEmpty, df.queryExecution.executedPlan.toString)
    assert(PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case o: ObjectHashAggregateExec => o
    }.nonEmpty, df.queryExecution.executedPlan.toString)
  }

  test("q37: corpus-side IVF list assignment aggregates, no window sort") {
    // nprobe=1 assignment is an argmax via max_by: only the query-side
    // probe (nprobe>1) and the final ranking may plan windows — exactly 2.
    import org.apache.spark.sql.execution.window.WindowExec
    val df = graft.similarity.Similarity.ivfTopKQuery(spark, dir)
    val windows = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case w: WindowExec => w
    }
    assert(windows.size == 2, df.queryExecution.executedPlan.toString)
  }

  test("q92: PPJoin candidate generation never plans a cartesian product") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val df = graft.dedup.PPJoin.similarPairsQuery(spark, dir)
    val bad = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case c: CartesianProductExec => c
      case b: BroadcastNestedLoopJoinExec => b
    }
    assert(bad.isEmpty, df.queryExecution.executedPlan.toString)
    spark.catalog.clearCache() // PPJoin caches the token table
  }

  test("q95: basket pair mining is basket-keyed; marginals broadcast") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
    val df = Association.partRulesQuery(spark, dir)
    assert(PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case c: CartesianProductExec => c
    }.isEmpty, df.queryExecution.executedPlan.toString)
    // the only nested-loop is the 1-row basket-count attach
    assert(PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case b: BroadcastNestedLoopJoinExec => b
    }.size <= 1, df.queryExecution.executedPlan.toString)
    // both item-marginal joins hash-broadcast
    assert(PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case b: BroadcastHashJoinExec => b
    }.size >= 2, df.queryExecution.executedPlan.toString)
  }

  test("q96: the Bloom prefilter sits in the plan before the exact semi-join") {
    val df = graft.operators.BloomJoin.flaggedRevenueQuery(spark, dir)
    val plan = df.queryExecution.optimizedPlan.toString
    val mc = plan.indexOf("might_contain")
    val join = plan.indexOf("Join LeftSemi")
    // optimizedPlan prints top-down: the semi-join node must appear
    // BEFORE (above) the bloom filter that feeds its left child
    assert(mc >= 0, plan)
    assert(join >= 0 && join < mc, plan)
  }

  test("q98: the per-entity rank window is bucket-keyed, not global") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = CoreQueries.giniSpend(spark, dir)
    val windows = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case w: WindowExec => w
    }
    // one bucket-partitioned rank over entities + one empty-partition
    // cumulation over the 25-row bucket-prefix table (by design)
    assert(windows.size == 2, df.queryExecution.executedPlan.toString)
    assert(windows.count(_.partitionSpec.nonEmpty) == 1,
      df.queryExecution.executedPlan.toString)
  }

  test("q99: all patterns ride one events scan and one aggregate") {
    val df = graft.analytics.SequenceMatch.motifQuery(spark, dir)
    assert(scans(df).size == 1, df.queryExecution.executedPlan.toString)
  }

  test("q93: the MG sketch aggregates as ObjectHashAggregate; recheck broadcasts") {
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = graft.text.TextOps.heavyTokensQuery(spark, dir)
    assert(PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case o: ObjectHashAggregateExec => o
    }.nonEmpty, df.queryExecution.executedPlan.toString)
    // candidate semi-join must be broadcast (≤ k−1 rows), never shuffled
    assert(PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case b: BroadcastHashJoinExec if b.joinType.sql == "LEFT SEMI" => b
    }.nonEmpty, df.queryExecution.executedPlan.toString)
  }

  test("q100: packing offsets use a bucket-keyed window and a broadcast prefix") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = graft.operators.Packing.packingQuery(spark, dir)
    val windows = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case w: WindowExec => w
    }
    // the corpus-sized cumsum window partitions by bucket; only the
    // bucket-prefix cumulation (≤ buckets rows) may be global
    assert(windows.count(_.partitionSpec.nonEmpty) == 1,
      df.queryExecution.executedPlan.toString)
    assert(PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case b: BroadcastHashJoinExec => b
    }.nonEmpty, df.queryExecution.executedPlan.toString)
  }

  test("q102: both retrieval cuts plan as TakeOrderedAndProject, no global sort-all") {
    val df = graft.text.Retrieval.hybridQuery(spark, dir)
    val topk = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case t: TakeOrderedAndProjectExec => t
    }
    // BM25 top-50, cosine top-50, fused top-20
    assert(topk.size == 3, df.queryExecution.executedPlan.toString)
  }

  test("q114: the NB likelihood join shuffles on token — the model is never broadcast") {
    // The model (vocab × |langs| log-likelihoods) is vocabulary-sized: on a
    // web corpus a df floor still leaves 10⁷+ tokens, so broadcasting it
    // OOMs at scale. Pin: no broadcast side anywhere in the plan may carry
    // the model's log_p column; the likelihood join must be a keyed
    // shuffle join (the q123 bigram-table pattern). priors/langs/vocabSize
    // (|langs|-row / 1-row) remain legitimately broadcast.
    // Auto-broadcast off for the planning window: at test scale Catalyst
    // legitimately broadcasts whichever side its stats call small, which
    // would mask the property under pin — that no EXPLICIT hint forces the
    // model side. With the threshold at -1, any BroadcastExchange left in
    // the plan can only come from a broadcast() hint.
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    val plan = try {
      spark.conf.set(key, "-1")
      graft.text.NaiveBayes.langConfusionQuery(spark, dir)
        .queryExecution.executedPlan
    } finally spark.conf.set(key, prev)
    val broadcastModel = PlanWalk.collectPlan(plan) {
      case b: BroadcastExchangeLike if b.output.exists(_.name == "log_p") => b
    }
    assert(broadcastModel.isEmpty,
      s"model broadcast: ${broadcastModel.map(_.nodeName)}\n$plan")
    val shuffleJoins = PlanWalk.collectPlan(plan) {
      case j: SortMergeJoinExec if j.output.exists(_.name == "log_p") => j
      case j: ShuffledHashJoinExec if j.output.exists(_.name == "log_p") => j
    }
    assert(shuffleJoins.nonEmpty, plan.toString)
  }

  test("q131/q132: vocabulary-sized model/count tables are never hint-broadcast") {
    // Same discipline as the q114 pin: with auto-broadcast off, any
    // BroadcastExchange left in the plan comes from an explicit hint, and
    // none may carry the vocabulary-sized columns (llr — the DSIR model;
    // cg — the corpus unigram counts). The 1-row totals/|V| and the
    // |sources| table remain legitimately broadcast.
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    val plans = try {
      spark.conf.set(key, "-1")
      Seq(
        "q131/llr" -> "llr" ->
          graft.text.Dsir.dsirWeightsQuery(spark, dir).queryExecution.executedPlan,
        "q132/cg" -> "cg" ->
          graft.text.Divergence.sourceDivergenceQuery(spark, dir).queryExecution.executedPlan)
    } finally spark.conf.set(key, prev)
    plans.foreach { case ((name, colName), plan) =>
      val bad = PlanWalk.collectPlan(plan) {
        case b: BroadcastExchangeLike if b.output.exists(_.name == colName) => b
      }
      assert(bad.isEmpty, s"$name broadcast: ${bad.map(_.nodeName)}\n$plan")
    }
  }

  test("q136: the only exchanges are the dedup-key shuffle and the output sort") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = graft.stream.DedupWithin.dedupWithinQuery(spark, dir)
    val shuffles = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case s: ShuffleExchangeLike => s
    }
    assert(shuffles.size == 2, df.queryExecution.executedPlan.toString)
  }

  test("q137: Morton slab stats plan as one partial/final aggregate pair") {
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = graft.operators.Layout.zorderSlabsQuery(spark, dir)
    val aggs = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case a: HashAggregateExec => a
    }
    val shuffles = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case s: ShuffleExchangeLike => s
    }
    // partial + final HashAggregate (codegen'd Morton arithmetic below
    // them), slab exchange + output sort — nothing else
    assert(aggs.size == 2 && shuffles.size == 2,
      df.queryExecution.executedPlan.toString)
  }

  test("q140: PERMISSIVE parse executes once — both halves read the cache") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = graft.etl.Quarantine.quarantineQuery(spark, dir)
    try {
      val cached = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
        case c: InMemoryTableScanExec => c
      }
      assert(cached.size == 2, df.queryExecution.executedPlan.toString)
    } finally spark.catalog.clearCache()
  }

  test("q142 sketch-only: no corpus scan, no corpus-scale join — only the " +
    "|sources|² pair join survives") {
    // The scale contract of exactCheck=false: after the sketch build
    // (materialized into the localCheckpoint — the one corpus-side pass),
    // the remaining plan touches only |sources|×k frames. No parquet scan
    // and no equi-join may appear; the only join is the |sources|²-bounded
    // broadcast pair join.
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec}
    val df = graft.analytics.ThetaSketch.thetaOverlap(
      graft.Tables.documents(spark, dir), exactCheck = false)
    assert(scans(df).isEmpty,
      s"sketch-only plan re-scans the corpus:\n${df.queryExecution.executedPlan}")
    val joins = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case j: BaseJoinExec => j
    }
    assert(joins.nonEmpty && joins.forall(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      s"unexpected joins ${joins.map(_.nodeName)}:\n${df.queryExecution.executedPlan}")
  }

  test("q148: the candidate join stays keyed on centroid_id — the " +
    "half-corpus query side never broadcast-flips") {
    // The shape that made the 100× leg pass (SCALING.md round-10): both
    // candidate sides exchange on the list id. Auto-broadcast off (the
    // q114 discipline) so any BroadcastExchange left comes from an
    // explicit hint — and none may carry the query side's q_embedding;
    // the candidate join must be a shuffle join keyed on centroid_id.
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    val plan = try {
      spark.conf.set(key, "-1")
      graft.similarity.KnnClassify.knnConfusionQuery(spark, dir)
        .queryExecution.executedPlan
    } finally spark.conf.set(key, prev)
    val badBroadcast = PlanWalk.collectPlan(plan) {
      case b: BroadcastExchangeLike if b.output.exists(_.name == "q_embedding") => b
    }
    assert(badBroadcast.isEmpty,
      s"query side broadcast: ${badBroadcast.map(_.nodeName)}\n$plan")
    def keyedOnList(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
                    out: Seq[org.apache.spark.sql.catalyst.expressions.Attribute]) =
      keys.exists(_.references.exists(_.name == "centroid_id")) &&
        out.exists(_.name == "q_embedding")
    val keyed = PlanWalk.collectPlan(plan) {
      case j: SortMergeJoinExec if keyedOnList(j.leftKeys, j.output) => j
      case j: ShuffledHashJoinExec if keyedOnList(j.leftKeys, j.output) => j
    }
    assert(keyed.nonEmpty, s"no centroid_id-keyed shuffle candidate join:\n$plan")
  }

  test("q149: native session_window plans exactly one exchange before the " +
    "session merge (plus only the output sort)") {
    // the groupBy(user_id, session_window) distribution is satisfied by a
    // single user_id hash exchange feeding the in-partition session merge;
    // the only other exchange is the deterministic output ORDER BY
    val df = graft.stream.WindowedAggs.sessionWindowQuery(spark, dir)
    assert(graft.operators.Bucketing.numShuffles(df) == 2,
      df.queryExecution.executedPlan.toString)
  }

  test("q154: the whole SCD2 build (3 windows + 2 aggregates) rides ONE " +
    "key exchange") {
    // lag/lag/running-sum windows and the run-collapse groupBy all share
    // the o_orderkey distribution; the only other exchange is the output
    // ORDER BY. A refactor that re-keys the aggregate or splits the
    // window specs shows up as exchange #3.
    val df = graft.etl.Scd2.scd2HistoryQuery(spark, dir)
    assert(graft.operators.Bucketing.numShuffles(df) == 2,
      df.queryExecution.executedPlan.toString)
  }

  test("q157: the fact side of the enrichment join never shuffles — the " +
    "dimension history broadcasts") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = graft.etl.Scd2.scd2EnrichQuery(spark, dir)
    val bhj = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case b: BroadcastHashJoinExec => b
    }
    assert(bhj.nonEmpty, df.queryExecution.executedPlan.toString)
    // history-build exchange + output sort only: the lineitem fact scan
    // feeds the join directly
    assert(graft.operators.Bucketing.numShuffles(df) == 2,
      df.queryExecution.executedPlan.toString)
  }

  test("q159: the radius join shuffles on the grid cell — never a " +
    "nested-loop over the corpus") {
    // The scale contract of grid blocking: both self-join sides exchange
    // on (jx, jy). Auto-broadcast off so the tiny-SF sides can't flip the
    // test into a broadcast join that would hide a lost cell key.
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    val plan = try {
      spark.conf.set(key, "-1")
      graft.operators.Spatial.radiusPairsQuery(spark, dir)
        .queryExecution.executedPlan
    } finally spark.conf.set(key, prev)
    val bnlj = PlanWalk.collectPlan(plan) {
      case j: BroadcastNestedLoopJoinExec => j
    }
    assert(bnlj.isEmpty, s"corpus nested-loop join:\n$plan")
    def cellKeyed(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      Seq("jx", "jy").forall(n => keys.exists(_.references.exists(_.name == n)))
    val keyed = PlanWalk.collectPlan(plan) {
      case j: SortMergeJoinExec if cellKeyed(j.leftKeys) => j
      case j: ShuffledHashJoinExec if cellKeyed(j.leftKeys) => j
    }
    assert(keyed.nonEmpty, s"no (jx, jy)-keyed shuffle join:\n$plan")
  }

  test("q160: the box containment join broadcasts the boxes — the point " +
    "side's only exchanges are the box-keyed aggregate and output sort") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val df = graft.operators.Spatial.boxJoinQuery(spark, dir)
    val plan = df.queryExecution.executedPlan
    val bnlj = PlanWalk.collectPlan(plan) {
      case j: BroadcastNestedLoopJoinExec => j
    }
    assert(bnlj.nonEmpty, s"containment join is not broadcast-driven:\n$plan")
    assert(graft.operators.Bucketing.numShuffles(df) == 2, plan.toString)
  }

  test("q162: every greedy round's anti-join broadcasts the covered set " +
    "— the corpus token table never shuffles for it") {
    // the covered set is vocabulary-bounded; a plan that exchanges the
    // token table on `token` to anti-join it has inverted the sizes
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val toks = graft.Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(graft.text.TextOps.tokens(col("text"))).as("token"))
      .distinct()
    val covered = toks.filter(col("doc_id") === 0L).select(col("token"))
    val round = toks.join(broadcast(covered), Seq("token"), "left_anti")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("gain"))
    val plan = round.queryExecution.executedPlan
    val anti = PlanWalk.collectPlan(plan) {
      case j: BroadcastHashJoinExec
        if j.joinType.toString.toLowerCase.contains("anti") => j
    }
    assert(anti.nonEmpty, s"no broadcast anti-join:\n$plan")
  }

  test("q164: match-pair generation shuffles on the link key — two " +
    "blocked equi-joins, no nested loop anywhere") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    val plan = try {
      spark.conf.set(key, "-1")
      graft.dedup.GoldenRecord.goldenQuery(spark, dir)
        .queryExecution.executedPlan
    } finally spark.conf.set(key, prev)
    val bnlj = PlanWalk.collectPlan(plan) {
      case j: BroadcastNestedLoopJoinExec => j
    }
    assert(bnlj.isEmpty, s"nested-loop in the ER plan:\n$plan")
  }

  test("q167: both recheck counts read BROADCAST-semi-joined scans — " +
    "the raw key universe never shuffles") {
    // the deltoid contract: the only per-key aggregates run AFTER the
    // ≤ 2(k−1)-candidate broadcast semi-join; a plan that groupBys the
    // raw key column first has re-introduced the open-vocabulary
    // exchange the sketch exists to avoid
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = graft.analytics.HeavyChangers.heavyChangersQuery(spark, dir)
    val plan = df.queryExecution.executedPlan
    val semis = PlanWalk.collectPlan(plan) {
      case j: BroadcastHashJoinExec
        if j.joinType.toString.toLowerCase.contains("semi") => j
    }
    assert(semis.size == 2, s"expected 2 broadcast semi-joins:\n$plan")
  }

  test("q168: one orders scan feeds the generated CDC log, and the " +
    "winner aggregate partial-combines before its single key exchange") {
    import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = graft.etl.Cdc.cdcSnapshotQuery(spark, dir)
    val plan = df.queryExecution.executedPlan
    assert(scans(df).size == 1, s"expected a single orders scan:\n$plan")
    // key hash exchange + output range sort — nothing else; the
    // struct-max winner runs through the engine's MaxOrderable
    // TypedImperativeAggregate, so the plan is an ObjectHashAggregate
    // pair with BOTH halves present — a partial below the exchange
    // (map-side combine — the property that keeps a million-op key from
    // shipping a million rows) and a final above it — and ZERO
    // SortAggregates: the built-in max(struct) fallback sorted every
    // input partition twice for an order-insensitive winner
    val shuffles = PlanWalk.collectPlan(plan) {
      case s: ShuffleExchangeLike => s
    }
    assert(shuffles.size == 2, s"expected 2 exchanges:\n$plan")
    val aggs = PlanWalk.collectPlan(plan) { case a: ObjectHashAggregateExec => a }
    assert(aggs.size == 2, s"expected partial+final ObjectHashAggregate pair:\n$plan")
    val sorts = PlanWalk.collectPlan(plan) { case a: SortAggregateExec => a }
    assert(sorts.isEmpty, s"expected no SortAggregate:\n$plan")
  }

  test("q170: the per-item shelf is the map-side TopK aggregate, not a " +
    "rank window over the pair table") {
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = graft.similarity.ItemCf.itemCfQuery(spark, dir)
    val plan = df.queryExecution.executedPlan
    // the 273→113 s fix at the 100× leg: the shelf collapses map-side
    // through TopK (partial+final ObjectHashAggregate pair); the ONLY
    // windows are the bn/deg attachments (4 plan derivations × 2), all
    // partitioned — a 9th window (or any unpartitioned one) means the
    // rank-window shape crept back
    val aggs = PlanWalk.collectPlan(plan) {
      case a: ObjectHashAggregateExec => a
    }
    assert(aggs.size == 2, s"expected TopK partial+final pair:\n$plan")
    val wins = PlanWalk.collectPlan(plan) { case w: WindowExec => w }
    assert(wins.size == 8 && wins.forall(_.partitionSpec.nonEmpty),
      s"expected 8 partitioned bn/deg windows:\n$plan")
  }

  test("q172: corpus access is confined to the two materialization jobs " +
    "— the positional self-join never rescans parquet") {
    val df = graft.text.PhraseSearch.phraseSearchQuery(spark, dir)
    // the 9-scans-per-query fix: phrases and pruned postings are
    // checkpointed, so the final plan joins materialized RDDs only
    assert(scans(df).isEmpty,
      df.queryExecution.executedPlan.toString)
  }

  test("q174: the contribution-cap rank window is keyed on (user, type) " +
    "— never a single-partition sort") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = graft.analytics.CappedContribution
      .cappedReleaseQuery(spark, dir)
    val wins = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case w: WindowExec => w
    }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.size == 2),
      df.queryExecution.executedPlan.toString)
  }

  test("q176: the probe grid joins by BROADCAST and the ledger builds " +
    "from ONE orders scan") {
    val led = graft.etl.Bitemporal.ordersLedger(spark, dir)
    assert(scans(led).size == 1, "ledger must be a single-pass explode")
    val grid = spark.range(1, 4).selectExpr("id AS T")
      .crossJoin(spark.range(1, 4).selectExpr("id AS V"))
    val df = graft.etl.Bitemporal.resolve(led, grid, Seq("price"))
    val bcasts = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case b: BroadcastExchangeLike => b
    }
    assert(bcasts.nonEmpty, df.queryExecution.executedPlan.toString)
  }

  test("q177: a HyperBall propagation round partial-aggregates the " +
    "register max map-side and keeps the neighbor join keyed") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("u", "v")
      .repartition(4) // defeat the local-relation broadcast shortcut
    val regs = graft.graph.HyperBall.vertexRegisters(
      edges.select(col("u").as("v")).distinct())
    val round = graft.graph.HyperBall.propagate(regs, edges)
    val plan = round.queryExecution.executedPlan.toString
    assert(plan.contains("partial_max"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q178: the co-occurrence edge build prunes the documents scan " +
    "to the text column only") {
    val e = graft.text.TextRank.cooccurrenceEdges(
      graft.Tables.documents(spark, dir))
    val scan = scans(e).head
    assert(scan.schema.fieldNames.toSeq == Seq("text"),
      scan.schema.fieldNames.mkString(","))
  }

  test("q179: the candidate top-N plans as TakeOrderedAndProject with a " +
    "broadcast probe — never a global sort or single-partition window") {
    graft.functions.GraftFunctions.register(spark)
    val e = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val df = graft.similarity.Mmr.topCandidates(e, probeId = 1L, n = 12)
    val topk = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case t: TakeOrderedAndProjectExec => t
    }
    assert(topk.nonEmpty, df.queryExecution.executedPlan.toString)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("q184: the KM pipeline's only window is the dimension-sized risk " +
    "cumsum, and the user aggregate partial-aggregates map-side") {
    val df = graft.analytics.Survival.kmQuery(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert("Window".r.findAllIn(plan).length === 1, plan)
    assert(plan.contains("partial_min"), plan)
  }

  test("q185: the jackknife plans with NO window anywhere — leave-one-out " +
    "estimates fold inside the per-group cell lists") {
    val df = graft.analytics.Jackknife.jackknifeQuery(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("q186: the channel codebook materializes ONCE (checkpoint) — no " +
    "window, no re-planned corpus distinct, in the lattice plan") {
    val df = graft.analytics.Shapley.shapleyQuery(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q187: the top-20 centrality cut plans as TakeOrderedAndProject, " +
    "never a global sort over the vertex table") {
    val df = graft.graph.Harmonic.harmonicQuery(spark, dir)
    val topk = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case t: TakeOrderedAndProjectExec => t
    }
    assert(topk.nonEmpty, df.queryExecution.executedPlan.toString)
  }

  test("q188: every FS candidate block joins KEYED (hash or sort-merge); " +
    "the only nested-loop is the 1-row m/u moment attach") {
    val df = graft.dedup.FellegiSunter.fsQuery(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).length <= 1, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q189: exactly two windows — the score-grain decile cumsum and " +
    "the 10-row qini cumsum; the decile attach is a keyed equi-join") {
    val df = graft.analytics.Uplift.upliftQuery(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert("Window".r.findAllIn(plan).length === 2, plan)
    assert(!plan.contains("BroadcastNestedLoopJoin")
      || plan.contains("BuildRight"), plan)
  }

  test("q190: the release audit is two stacked aggregates + a broadcast " +
    "ladder — no window, no join back to the corpus") {
    val df = graft.quality.Anonymity.anonymityQuery(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(scans(df).length === 1, plan) // one customer scan
  }

  test("q191: DiD is ONE corpus scan partial-aggregated to the 2x4 cell " +
    "grid — the smallest exchange shape in the engine") {
    val df = graft.analytics.DiffInDiff.didQuery(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(scans(df).length === 1, plan)
    assert(plan.contains("partial_count"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("q192: the ANOVA moments partial-aggregate map-side and the SSB " +
    "fold has no window") {
    val df = graft.analytics.VarianceDecomp.anovaQuery(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_sum"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("q193: the tokens projection prunes the documents scan to text " +
    "only (the corpus stage — the ladder itself runs post-checkpoint)") {
    val tokens = graft.Tables.documents(spark, dir).select(
      explode(org.apache.spark.sql.functions.filter(
        org.apache.spark.sql.functions.split(col("text"), " "),
        t => t =!= "")).as("token"))
    val scan = scans(tokens.groupBy(col("token")).count()).head
    assert(scan.schema.fieldNames.toSeq === Seq("text"),
      scan.schema.fieldNames.mkString(","))
    // the checkpointed ladder plan is dimension-sized: no window at all
    val df = graft.text.GoodTuring.goodTuringQuery(spark, dir)
    assert(!df.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("q194: the minimax grid's windows run over the bin table, and " +
    "every grid join is bin-keyed or dimension-sized — no cartesian") {
    val df = graft.analytics.Isotonic.isotonicQuery(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q195: one orders scan pruned to the price column; everything " +
    "after the 9-digit grid is constant-sized") {
    val df = graft.quality.Benford.benfordQuery(spark, dir)
    val scan = scans(df).head
    assert(scan.schema.fieldNames.toSeq === Seq("o_totalprice"),
      scan.schema.fieldNames.mkString(","))
    assert(!df.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("q196: the rank windows are bucket-partitioned or bucket-grain — " +
    "never a corpus-scale single-partition window over values") {
    val df = graft.analytics.RankSum.rankSumQuery(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // exactly two windows: within-bucket (partitioned) + bucket-grain
    assert("Window".r.findAllIn(plan).length === 2, plan)
    val winSpecs = plan.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(winSpecs.exists(_.contains("bucket")), winSpecs.mkString("\n"))
  }

  test("q197: one user-keyed corpus exchange; the risk-set windows run " +
    "on the day-grain grid") {
    val df = graft.analytics.LogRank.logRankQuery(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_min"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q198: ONE events scan pruned to (ts, value) — the totals ride " +
    "the same day-grid window pass as the prefixes") {
    val df = graft.analytics.Cusum.cusumQuery(spark, dir)
    val ss = scans(df)
    assert(ss.length === 1, ss.map(_.schema.fieldNames.mkString(",")))
    assert(ss.head.schema.fieldNames.toSeq.sorted === Seq("ts", "value"),
      ss.head.schema.fieldNames.mkString(","))
  }

  test("q199: the corpus pipeline plans ONCE — the final plan reads the " +
    "checkpointed cell grid, never a second events scan") {
    val df = graft.analytics.StratifiedAte.ateQuery(spark, dir)
    assert(scans(df).isEmpty,
      scans(df).map(_.schema.fieldNames.mkString(",")).mkString(";"))
    assert(!df.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("q200: the dedup keeper window is TEXT-partitioned (duplicate-" +
    "multiplicity-bounded), never a global window; no cartesian") {
    // the window lives in the shared curationFlags VIEW build (q200
    // rolls the memoized view up, q214 joins it) — pin the view's plan
    val flags = graft.pipeline.ReleaseFunnel.curationFlags(
      graft.Tables.documents(spark, dir))
    val fplan = flags.queryExecution.executedPlan.toString
    assert(fplan.contains("windowspecdefinition(text"), fplan.take(2000))
    assert(!fplan.contains("CartesianProduct"), fplan.take(2000))
    val plan = graft.pipeline.ReleaseFunnel.funnelQuery(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("q201: both cumulative windows are bucket-scoped — never a " +
    "per-group window over the raw value grain") {
    val df = graft.analytics.WeightedQuantiles
      .weightedQuantilesQuery(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert("Window".r.findAllIn(plan).length === 2, plan)
    val winSpecs = plan.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(winSpecs.forall(_.contains("bucket")), winSpecs.mkString("\n"))
  }

  test("q202: the image corpus scan prunes to doc_id only (pixels are " +
    "generated, never read from the documents payload)") {
    val df = graft.multimodal.PerceptualHash.imageNearDupQuery(spark, dir)
    scans(df).foreach { scan =>
      assert(scan.schema.fieldNames.toSeq == Seq("doc_id"),
        scan.schema.fieldNames.mkString(","))
    }
    // band join must be keyed — never an all-pairs nested loop over
    // the image table (the brute-force pair scan is oracle-only)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q204: the audio corpus scan prunes to doc_id and the band join " +
    "is keyed (the brute-force pair scan is oracle-only)") {
    val df = graft.multimodal.AudioFingerprint.audioNearDupQuery(spark, dir)
    scans(df).foreach { scan =>
      assert(scan.schema.fieldNames.toSeq == Seq("doc_id"),
        scan.schema.fieldNames.mkString(","))
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q205: keyframe selection is SHUFFLE-FREE past the scan — no " +
    "join, no aggregate exchange; the only exchange is the output sort") {
    val df = graft.multimodal.VideoKeyframes.keyframesQuery(spark, dir)
    scans(df).foreach { scan =>
      assert(scan.schema.fieldNames.toSeq == Seq("doc_id"),
        scan.schema.fieldNames.mkString(","))
    }
    // every frame of a clip lives in its payload row, so cut detection
    // needs no lag window and no join — a plan that grew either means
    // someone refactored the flatMap into a shuffle
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val shuffles = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case s: ShuffleExchangeExec => s
    }
    // exactly two exchanges: the 8-byte-per-row corpus spread before the
    // CPU-dense decode (deliberate — see imageCorpus) and the
    // presentation ORDER BY; the decode->hash->cut chain itself adds none
    assert(shuffles.size <= 2, plan)
  }

  test("q210: the video pair join is keyed on the frame hash (inverted " +
    "index) — never an all-pairs loop; the scan prunes to doc_id") {
    val df = graft.multimodal.VideoKeyframes.videoNearDupQuery(spark, dir)
    scans(df).foreach { scan =>
      assert(scan.schema.fieldNames.toSeq == Seq("doc_id"),
        scan.schema.fieldNames.mkString(","))
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q206/q207: every PQ codebook/distance-table join is broadcast — " +
    "the n-row side is never sort-merge-joined against M*K rows") {
    for (fn <- Seq(graft.similarity.ProductQuantization.codebookAuditQuery _,
                   graft.similarity.ProductQuantization.adcTopKQuery _)) {
      val plan = fn(spark, dir).queryExecution.executedPlan.toString
      assert(!plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    }
  }

  test("q208: the only corpus-scale joins are vec_id-keyed (the narrow " +
    "code⋈list zip); every dimension-sized table is broadcast") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val df = graft.similarity.IvfPq.ivfPqTopKQuery(spark, dir)
    val smjs = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case j: SortMergeJoinExec => j
    }
    // codes(n·M rows) ⋈ lists(n rows) is corpus-scale on BOTH sides —
    // a co-partitioned shuffle join is the RIGHT strategy there; any
    // other SMJ means a codebook/centroid/distance table lost its
    // broadcast hint (ivfAssign's broadcast-cross scoring is the
    // documented BNLJ exception, as in q37)
    smjs.foreach { j =>
      assert(j.leftKeys.mkString(",").contains("vec_id"),
        s"non-vec_id SortMergeJoin: $j")
    }
  }

  test("q213: the maintenance plan is shingle/doc-keyed — inverted-index " +
    "joins only, scans pruned (docs to (doc_id, text); the persisted " +
    "state to its own kind-tagged columns), no all-pairs loop") {
    val df = graft.dedup.DedupMaintain.maintainQuery(spark, dir)
    val stateCols = graft.dedup.DedupMaintain.StateSchema.fieldNames.toSet
    val (stateScans, docScans) = scans(df).partition(
      _.schema.fieldNames.contains("kind"))
    assert(stateScans.nonEmpty,
      "q213 must read the PERSISTED state, not rebuild it in-query")
    docScans.foreach { scan =>
      assert(scan.schema.fieldNames.toSet.subsetOf(Set("doc_id", "text")),
        scan.schema.fieldNames.mkString(","))
    }
    stateScans.foreach { scan =>
      assert(scan.schema.fieldNames.toSet.subsetOf(stateCols),
        scan.schema.fieldNames.mkString(","))
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q214: the unified plan composes the shared views with doc_id-" +
    "keyed joins only — no all-pairs loop, no unpartitioned window") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = graft.pipeline.CurationPlan.planQuery(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the flag evidence comes from the SHARED curationFlags view (its
    // exact-keeper window is text-partitioned and priced once, in the
    // view build) — the composition itself must not re-sort anything
    // on an empty key
    val wins = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case w: WindowExec => w
    }
    assert(wins.forall(_.partitionSpec.nonEmpty), plan)
  }

  test("q211: the maintenance joins are vec_id/list-keyed; every " +
    "codebook/centroid table is broadcast (the q208 discipline)") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val df = graft.similarity.VectorIndexMaintain.maintainQuery(spark, dir)
    val smjs = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case j: SortMergeJoinExec => j
    }
    smjs.foreach { j =>
      val keys = j.leftKeys.mkString(",")
      assert(keys.contains("vec_id") || keys.contains("list_id")
        || keys.contains("s"),
        s"non-keyed SortMergeJoin: $j")
    }
  }

  test("q215: the erasure plan reads the PERSISTED full-corpus state " +
    "(kind-tagged scan), prunes doc scans, and keeps every join " +
    "shingle/doc-keyed — no all-pairs loop") {
    val df = graft.dedup.DedupMaintain.deleteQuery(spark, dir)
    val stateCols = graft.dedup.DedupMaintain.StateSchema.fieldNames.toSet
    val (stateScans, docScans) = scans(df).partition(
      _.schema.fieldNames.contains("kind"))
    assert(stateScans.nonEmpty,
      "q215 must read the PERSISTED full state, not rebuild it in-query")
    docScans.foreach { scan =>
      assert(scan.schema.fieldNames.toSet.subsetOf(Set("doc_id", "text")),
        scan.schema.fieldNames.mkString(","))
    }
    stateScans.foreach { scan =>
      assert(scan.schema.fieldNames.toSet.subsetOf(stateCols),
        scan.schema.fieldNames.mkString(","))
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q217: the media erasure is cluster-scoped id work over the " +
    "memoized (edges, plan) state — no all-pairs loop, no " +
    "unpartitioned window") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = graft.multimodal.MediaDedup.mediaDeleteQuery(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    val wins = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case w: WindowExec => w
    }
    assert(wins.forall(_.partitionSpec.nonEmpty), plan)
  }

  test("q216: the plan is rebuilt from the PERSISTED curation state " +
    "(kind-tagged scan, no in-query corpus re-aggregate); every window " +
    "is keyed (the keeper window is text-partitioned), no cartesian/BNLJ " +
    "anywhere in the composition") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = graft.pipeline.CurationMaintain.maintainQuery(spark, dir)
    val stateCols = graft.pipeline.CurationMaintain.StateSchema.fieldNames.toSet
    val (stateScans, docScans) = scans(df).partition(
      _.schema.fieldNames.contains("kind"))
    assert(stateScans.nonEmpty,
      "q216 must read the PERSISTED state, not rebuild it in-query")
    stateScans.foreach { scan =>
      assert(scan.schema.fieldNames.toSet.subsetOf(stateCols),
        scan.schema.fieldNames.mkString(","))
    }
    docScans.foreach { scan =>
      assert(scan.schema.fieldNames.toSet
        .subsetOf(Set("doc_id", "text", "source")),
        scan.schema.fieldNames.mkString(","))
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    val wins = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
      case w: WindowExec => w
    }
    assert(wins.forall(_.partitionSpec.nonEmpty), plan)
  }

  test("EVERY driver query plans without a CartesianProductExec") {
    // The global all-pairs ban. BroadcastNestedLoopJoin is tolerated only
    // because scalar attaches (crossJoin of a broadcast one-row aggregate
    // — corpus totals, means, bounds) legitimately plan as BNLJ; a true
    // CartesianProductExec anywhere means some refactor lost a join key.
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val df = fn(spark, dir)
        val bad = PlanWalk.collectPlan(df.queryExecution.executedPlan) {
          case c: CartesianProductExec => c
        }
        spark.catalog.clearCache()
        if (bad.nonEmpty) Some(name) else None
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }
}
