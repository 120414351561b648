package graft

/** DuckDB oracle SQL for every deterministic query in [[SparkEntry.queries]].
  *
  * Contract (see the driver notes in SparkEntry): same table names, same
  * column aliases, same final ORDER BY as the Spark plan. Queries built
  * on Spark-internal sketches or media bytes (q31, q36) are
  * intentionally absent — the driver falls back to a rows-only check
  * for those. q27–q30 graduated to hash-verified in round 10 by
  * replacing their xxhash64 layers with integer rolling-hash /
  * affine-family / quadratic-mixer constructions (the q141 pattern),
  * q32 by replaying the engine's own sentiment lexicon and rule chain
  * as generated SQL, q82 by rebuilding the HLL relationally over the
  * same quadratic mixer (registers, integer harmonic sum, and
  * linear-counting branch all replayed below), q37 by seeding the IVF
  * codebook with the same mixer and unrolling its two Lloyd training
  * rounds (round(mean, 6) → FLOAT re-quantizes both engines onto
  * identical centroid bits between rounds), and q134 by applying that
  * same unroll at BOTH levels of the two-level trained quantizer
  * (supers, then super-local children over a fixed routing).
  *
  * Dialect notes that keep the hashes matching:
  *  - counts are BIGINT in both engines; SUM(CASE ...) over ints is HUGEINT
  *    in DuckDB, so those are CAST(... AS BIGINT) to match Spark's LongType;
  *  - DuckDB `log` is log10 — natural log is `ln` (Spark `log` = ln);
  *  - `list_sum` of an empty list is NULL in DuckDB → coalesce to 0;
  *  - float math is upcast to DOUBLE elementwise and folded left-to-right
  *    (list_reduce with a prepended 0) to reproduce Spark's
  *    `aggregate(zip_with(...))` evaluation order bit-for-bit.
  */
object OracleSql {

  /** q216 (curation plan rebuilt from stored state) shares q214's
    * oracle VERBATIM: the engine recomputes the plan of base ∪ one
    * ingest batch from the persisted base state, the oracle recomputes
    * the union from scratch — hash equality at the gate IS the rebuild
    * law at the plan grain. That the query reads the persisted state
    * (and not a recompute) is spec-proven by poisoning
    * (CurationMaintainSpec).
    */
  val all: Map[String, String] = base +
    ("q216_curation_plan_maintain" -> base("q214_curation_plan"))

  private lazy val base: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '2001-01-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_unified_join" ->
      """SELECT
        |  c.c_nationkey AS nation_id,
        |  o.o_custkey AS cust_id,
        |  o.o_orderkey AS order_id,
        |  o.o_totalprice AS total,
        |  o.o_orderstatus AS status,
        |  o.o_orderdate AS order_date,
        |  o.o_orderpriority AS priority,
        |  c.c_name AS name,
        |  c.c_acctbal AS acctbal,
        |  c.c_mktsegment AS segment,
        |  n.n_name AS nation_name,
        |  n.n_regionkey AS region_id
        |FROM orders o
        |LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        |ORDER BY order_id""".stripMargin,

    "q03_top_orders" ->
      """SELECT o.o_orderkey AS order_id, c.c_name AS cust_name,
        |  o.o_totalprice AS total
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |ORDER BY total DESC, order_id
        |LIMIT 5""".stripMargin,

    "q04_topk_per_customer" ->
      """SELECT o_custkey AS cust_id, rnk, o_orderkey AS order_id,
        |  o_totalprice AS total
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders)
        |WHERE rnk <= 3
        |ORDER BY cust_id, rnk""".stripMargin,

    "q05_customers_without_orders" ->
      """SELECT c.c_custkey AS cust_id, c.c_name AS name
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY cust_id""".stripMargin,

    "q06_customers_with_orders" ->
      """SELECT c.c_custkey AS cust_id, c.c_name AS name
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY cust_id""".stripMargin,

    "q07_power_users" ->
      """SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM events
        |GROUP BY user_id
        |HAVING count(*) > 5
        |ORDER BY user_id""".stripMargin,

    "q08_null_profile" ->
      """SELECT
        |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderkey,
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_custkey,
        |  CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderstatus,
        |  CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_totalprice,
        |  CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderdate,
        |  CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderpriority
        |FROM orders""".stripMargin,

    "q09_value_buckets" ->
      """SELECT event_type,
        |  CASE WHEN value > 75.0 THEN 'high'
        |       WHEN value < 25.0 THEN 'low'
        |       ELSE 'mid' END AS bucket,
        |  count(*) AS n,
        |  round(avg(value), 4) AS avg_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY event_type, bucket""".stripMargin,

    "q10_engagement" ->
      """SELECT l_orderkey AS order_id,
        |  CAST(l_linenumber AS BIGINT) AS line_no,
        |  round(l_quantity + l_discount * 100.0 + l_tax * 100.0, 2) AS engagement_score,
        |  CAST((CASE WHEN l_discount > 0.0 THEN 1 ELSE 0 END)
        |     + (CASE WHEN l_tax > 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_charges
        |FROM lineitem
        |ORDER BY order_id, line_no""".stripMargin,

    "q11_daily_events" ->
      """SELECT CAST(ts AS DATE) AS event_date,
        |  count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  round(sum(value), 2) AS total_value
        |FROM events
        |GROUP BY 1
        |ORDER BY event_date""".stripMargin,

    "q12_monthly_orders" ->
      """SELECT date_trunc('month', o_orderdate) AS order_month,
        |  count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |GROUP BY 1
        |ORDER BY order_month""".stripMargin,

    "q13_degree_bidirectional" ->
      """WITH und AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT l_suppkey AS src, l_partkey + 1000000 AS dst FROM lineitem
        |    UNION ALL
        |    SELECT l_partkey + 1000000 AS src, l_suppkey AS dst FROM lineitem))
        |SELECT src AS node, count(*) AS degree
        |FROM und GROUP BY src ORDER BY node""".stripMargin,

    "q14_integrity_checks" ->
      """SELECT 'dup_order_keys' AS chk,
        |  (SELECT count(*) FROM (SELECT o_orderkey FROM orders
        |    GROUP BY o_orderkey HAVING count(*) > 1)) AS n
        |UNION ALL
        |SELECT 'lineitem_without_order',
        |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |UNION ALL
        |SELECT 'order_without_customer',
        |  (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |ORDER BY chk""".stripMargin,

    "q15_distinct_stats" ->
      """SELECT count(DISTINCT l_orderkey) AS n_orders,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_suppliers,
        |  count(*) AS n_rows
        |FROM lineitem""".stripMargin,

    "q16_nation_revenue" ->
      """SELECT n.n_name AS nation,
        |  count(*) AS n_orders,
        |  round(sum(o.o_totalprice), 2) AS revenue,
        |  round(avg(o.o_totalprice), 4) AS avg_order_value
        |FROM orders o
        |LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY 1
        |ORDER BY nation NULLS FIRST""".stripMargin,

    "q17_elite_distribution" ->
      """SELECT n.n_name AS nation, count(*) AS n_elite
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE c.c_acctbal > 5000.0
        |GROUP BY 1
        |ORDER BY nation""".stripMargin,

    "q18_user_activity" ->
      """SELECT user_id,
        |  count(*) AS n_events,
        |  round(sum(value), 2) AS total_value,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
        |  max(ts) AS last_seen
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    "q19_json_extract" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events
        |ORDER BY event_id""".stripMargin,

    "q20_top_tokens" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
        |WHERE token <> ''
        |GROUP BY token
        |ORDER BY n DESC, token
        |LIMIT 50""".stripMargin,

    "q21_text_stats" ->
      """WITH tk AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars_calc,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
        |    round(CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS DOUBLE)
        |      / greatest(len(toks), 1), 4) AS avg_token_len,
        |    round(CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE)
        |      / greatest(len(toks), 1), 4) AS stop_ratio
        |  FROM tk)
        |SELECT doc_id, n_chars_calc, n_tokens, n_distinct_tokens, avg_token_len,
        |  stop_ratio,
        |  round(ln(1.0 + n_tokens) * (1.0 - stop_ratio), 4) AS quality_score
        |FROM s
        |ORDER BY doc_id""".stripMargin,

    "q22_lang_id" ->
      """WITH tk AS (
        |  SELECT lang, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT lang,
        |    len(list_filter(toks, x -> x IN ('the', 'a', 'and', 'of'))) AS en,
        |    len(list_filter(toks, x -> x IN ('el', 'la', 'los', 'y'))) AS es,
        |    len(list_filter(toks, x -> x IN ('le', 'les', 'et', 'une'))) AS fr,
        |    len(list_filter(toks, x -> x IN ('der', 'die', 'und', 'das'))) AS de
        |  FROM tk)
        |SELECT lang,
        |  CASE WHEN en >= greatest(es, fr, de) THEN 'en'
        |       WHEN es >= greatest(fr, de) THEN 'es'
        |       WHEN fr >= de THEN 'fr'
        |       ELSE 'de' END AS pred_lang,
        |  count(*) AS n
        |FROM s
        |GROUP BY 1, 2
        |ORDER BY lang, pred_lang""".stripMargin,

    "q23_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(text) + 1),
        |        i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 1000000007) AS fp
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "q24_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents
        |GROUP BY text
        |ORDER BY keep_id""".stripMargin,

    "q25_jaccard_pairs" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, array_to_string(list_slice(t, i + 1, i + 5), ' ') AS shingle
        |  FROM tk, unnest(range(0, len(t) - 4)) AS g(i)
        |  WHERE len(t) >= 5),
        |sh AS (
        |  SELECT doc_id, shingle FROM (
        |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
        |    FROM sh0)
        |  WHERE df <= 100),
        |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |cm AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT id_a, id_b,
        |    round(CAST(n_common AS DOUBLE) / (na.n_sh + nb.n_sh - n_common), 4) AS jaccard
        |  FROM cm
        |  JOIN sz na ON na.doc_id = id_a
        |  JOIN sz nb ON nb.doc_id = id_b)
        |SELECT id_a, id_b, jaccard FROM j
        |WHERE jaccard >= 0.2
        |ORDER BY id_a, id_b""".stripMargin,

    "q26_cosine_topk" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, v,
        |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(v, x -> x * x)), (s, x) -> s + x)) AS nrm
        |  FROM e),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
        |c AS (
        |  SELECT q.query_id, n.vec_id AS neighbor_id,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1, len(qv) + 1), i -> qv[i] * v[i])),
        |      (s, x) -> s + x) / (qn * nrm) AS cos
        |  FROM n, q WHERE n.vec_id <> q.query_id),
        |r AS (
        |  SELECT query_id, neighbor_id, cos,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(cos, 6) DESC, neighbor_id) AS BIGINT) AS rnk
        |  FROM c)
        |SELECT query_id, rnk, neighbor_id, round(cos, 4) AS cosine
        |FROM r WHERE rnk <= 5
        |ORDER BY query_id, rnk""".stripMargin,

    // q27: the MinHash+LSH pipeline replayed end-to-end in integer
    // arithmetic — shingle rolling hash (the q23 fingerprint fold),
    // affine-permutation mins over the Mersenne prime, band-bucket fold
    // (list_reduce — the q89/q107 fold-mirror trick), bucket cap,
    // candidate join, signature-estimate verify. The permutation
    // constants are interpolated from Dedup.MinhashParams, so engine and
    // oracle cannot drift.
    "q27_minhash_lsh" -> {
      val P = graft.dedup.Dedup.MinhashP
      val bb = graft.dedup.Dedup.MinhashBandBase
      val mins = graft.dedup.Dedup.MinhashParams.take(20).zipWithIndex.map {
        case ((a, b), i) => s"min(($a * sh + $b) % $P) AS m$i"
      }.mkString(",\n        |    ")
      val sigList = (0 until 20).map("m" + _).mkString("[", ", ", "]")
      s"""WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(s) + 1),
        |        j -> CAST(ascii(substring(s, j, 1)) AS BIGINT))),
        |      (h, c) -> (h * 31 + c) % 1000000007) AS sh
        |  FROM (
        |    SELECT doc_id, array_to_string(list_slice(t, i + 1, i + 5), ' ') AS s
        |    FROM tk, unnest(range(0, len(t) - 4)) AS g(i)
        |    WHERE len(t) >= 5) raw),
        |sig AS (
        |  SELECT doc_id,
        |    $mins
        |  FROM sh0 GROUP BY doc_id),
        |sigl AS (SELECT doc_id, $sigList AS sig FROM sig),
        |bands AS (
        |  SELECT doc_id, b AS band,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_slice(sig, b * 4 + 1, b * 4 + 4)),
        |      (acc, v) -> (acc * $bb + v) % $P) AS bucket
        |  FROM sigl, unnest(range(0, 5)) AS g(b)),
        |capped AS (
        |  SELECT doc_id, band, bucket FROM (
        |    SELECT doc_id, band, bucket,
        |      count(*) OVER (PARTITION BY band, bucket) AS bn
        |    FROM bands) cb
        |  WHERE bn <= 50),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM capped a JOIN capped b
        |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
        |est AS (
        |  SELECT id_a, id_b,
        |    round(CAST(len(list_filter(range(1, 21),
        |      i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 20, 4) AS est_jaccard
        |  FROM cand
        |  JOIN sigl sa ON sa.doc_id = id_a
        |  JOIN sigl sb ON sb.doc_id = id_b)
        |SELECT id_a, id_b, est_jaccard FROM est
        |WHERE est_jaccard >= 0.5
        |ORDER BY id_a, id_b""".stripMargin
    },

    // q28: per-doc 62-bit SimHash rebuilt relationally (distinct tokens →
    // rolling-hash fingerprint → 62 affine-hash votes → sign bits), then
    // the ≤ 3 Hamming pair set by BRUTE FORCE — which independently
    // verifies the engine's chunk-pigeonhole candidate generation is
    // exhaustive, not just deterministic. Constants interpolated from
    // TextHash.SimA/SimB. A doc with no tokens has every vote at 0 and
    // therefore every bit set (the engine's votes ≥ 0 convention) — the
    // UNION ALL branch supplies that all-ones signature.
    "q28_simhash_pairs" -> {
      import graft.functions.TextHash
      val votes = (0 until TextHash.SimBits).map { j =>
        s"sum(CASE WHEN (${TextHash.SimA(j)} * x + ${TextHash.SimB(j)}) % " +
          s"${TextHash.SimP} <= ${TextHash.SimHalf} THEN 1 ELSE -1 END) AS v$j"
      }.mkString(",\n        |    ")
      val bits = (0 until TextHash.SimBits).map { j =>
        s"(CASE WHEN v$j >= 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString("\n        |    + ")
      val allOnes = (1L << TextHash.SimBits) - 1L
      s"""WITH tk AS (
        |  SELECT DISTINCT doc_id, token FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
        |    FROM documents) u),
        |tx AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(token) + 1),
        |        j -> CAST(ascii(substring(token, j, 1)) AS BIGINT))),
        |      (h, c) -> (h * 31 + c) % 1000000007) AS x
        |  FROM tk),
        |v AS (
        |  SELECT doc_id,
        |    $votes
        |  FROM tx GROUP BY doc_id),
        |s AS (
        |  SELECT doc_id,
        |    $bits
        |    AS simhash
        |  FROM v
        |  UNION ALL
        |  SELECT doc_id, $allOnes AS simhash
        |  FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM v))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY id_a, id_b""".stripMargin
    },

    // q29/q30: the random-hyperplane LSH pipelines replayed end-to-end —
    // the plane components are the engine's quadratic-congruential
    // integer mixer (VectorHash constants, interpolated below), the sign
    // sketches are per-plane left folds in kernel order, and the cosine
    // verify reuses the q26 fold mirror. q29 enumerates the multi-probe
    // Hamming-≤1 masks; q30 slices the 48-bit sketch into 8 six-bit
    // bands.
    "q29_lsh_ann_topk" -> {
      val p = OracleSqlHelpers.planesCtes(8)
      s"""WITH e AS (
        |  SELECT vec_id, embedding AS v FROM embeddings),
        |$p,
        |proj AS (
        |  SELECT vec_id, p,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1, len(v) + 1),
        |        j -> CAST(v[j] AS DOUBLE) * cs[j])),
        |      (s, x) -> s + x) AS pr
        |  FROM e, planes),
        |b AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN pr >= 0 THEN (CAST(1 AS BIGINT) << p)
        |      ELSE 0 END) AS BIGINT) AS bucket
        |  FROM proj GROUP BY vec_id),
        |ev AS (
        |  SELECT vec_id, list_transform(v, x -> CAST(x AS DOUBLE)) AS dv
        |  FROM e),
        |n AS (
        |  SELECT vec_id, dv,
        |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(dv, x -> x * x)), (s, x) -> s + x)) AS nrm
        |  FROM ev),
        |masks AS (
        |  SELECT CAST(0 AS BIGINT) AS mask
        |  UNION ALL
        |  SELECT CAST(1 AS BIGINT) << i FROM unnest(range(0, 8)) AS gm(i)),
        |q AS (
        |  SELECT n.vec_id AS query_id, n.dv AS qv, n.nrm AS qn,
        |    xor(b.bucket, masks.mask) AS bucket
        |  FROM n JOIN b ON b.vec_id = n.vec_id CROSS JOIN masks
        |  WHERE n.vec_id < 10),
        |cand AS (
        |  SELECT q.query_id, n2.vec_id AS neighbor_id, q.qv, q.qn,
        |    n2.dv, n2.nrm
        |  FROM q JOIN b b2 ON b2.bucket = q.bucket
        |  JOIN n n2 ON n2.vec_id = b2.vec_id
        |  WHERE n2.vec_id <> q.query_id),
        |c AS (
        |  SELECT query_id, neighbor_id,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1, len(qv) + 1), i -> qv[i] * dv[i])),
        |      (s, x) -> s + x) / (qn * nrm) AS cos
        |  FROM cand),
        |r AS (
        |  SELECT query_id, neighbor_id, cos,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(cos, 6) DESC, neighbor_id) AS BIGINT) AS rnk
        |  FROM c)
        |SELECT query_id, rnk, neighbor_id, round(cos, 4) AS cosine
        |FROM r WHERE rnk <= 5
        |ORDER BY query_id, rnk""".stripMargin
    },

    "q30_embedding_near_dup" -> {
      val p = OracleSqlHelpers.planesCtes(48)
      s"""WITH e AS (
        |  SELECT vec_id, embedding AS v FROM embeddings),
        |$p,
        |proj AS (
        |  SELECT vec_id, p,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1, len(v) + 1),
        |        j -> CAST(v[j] AS DOUBLE) * cs[j])),
        |      (s, x) -> s + x) AS pr
        |  FROM e, planes),
        |sk AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN pr >= 0 THEN (CAST(1 AS BIGINT) << p)
        |      ELSE 0 END) AS BIGINT) AS sketch
        |  FROM proj GROUP BY vec_id),
        |bands AS (
        |  SELECT vec_id, t AS band, (sketch >> (t * 6)) & 63 AS bucket
        |  FROM sk, unnest(range(0, 8)) AS gt(t)),
        |ev AS (
        |  SELECT vec_id, list_transform(v, x -> CAST(x AS DOUBLE)) AS dv
        |  FROM e),
        |n AS (
        |  SELECT vec_id, dv,
        |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(dv, x -> x * x)), (s, x) -> s + x)) AS nrm
        |  FROM ev),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bucket = b.bucket
        |      AND a.vec_id < b.vec_id),
        |c AS (
        |  SELECT id_a, id_b,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1, len(na.dv) + 1),
        |        i -> na.dv[i] * nb.dv[i])),
        |      (s, x) -> s + x) / (na.nrm * nb.nrm) AS cos
        |  FROM cand
        |  JOIN n na ON na.vec_id = id_a
        |  JOIN n nb ON nb.vec_id = id_b)
        |SELECT id_a, id_b, round(cos, 4) AS cosine
        |FROM c WHERE cos >= 0.4
        |ORDER BY id_a, id_b""".stripMargin
    },

    // q32: the engine's own ~3k-entry sentiment lexicon and rule chain
    // (negation window, distance-scaled boosters, caps emphasis,
    // exclamation amplification, VADER normalization) replayed in SQL —
    // tables and constants generated from the Sentiment object, folds
    // position-ordered for bit-exact double arithmetic. See
    // OracleSqlHelpers.sentimentScoreCtes.
    "q32_sentiment_by_lang" -> {
      val sc = OracleSqlHelpers.sentimentScoreCtes
      s"""WITH $sc
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(avg(CAST(score AS DOUBLE)), 4) AS avg_sentiment,
        |  CAST(sum(CASE WHEN score > CAST(0.05 AS FLOAT) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_positive,
        |  CAST(sum(CASE WHEN score < CAST(-0.05 AS FLOAT) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_negative
        |FROM sc GROUP BY lang
        |ORDER BY lang""".stripMargin
    },

    // Shared verbatim with the Spark side (see
    // CoreQueries.topNationsPerRegionSql) — one SQL text, two engines.
    "q33_sql_top_nations" ->
      graft.analytics.CoreQueries.topNationsPerRegionSql,

    // Spark's window() buckets align to the epoch; so does time_bucket for
    // hour-divisible intervals.
    "q34_event_windows" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
        |  time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
        |  event_type,
        |  count(*) AS n_events,
        |  round(sum(value), 2) AS total_value
        |FROM events
        |GROUP BY 1, 2, 3
        |ORDER BY window_start, event_type""".stripMargin,

    // q37: the TRAINED IVF ANN pipeline replayed end-to-end — seed-hash
    // centroid init (the VectorHash quadratic mixer over vec_id, constants
    // interpolated so engine and oracle cannot drift), TWO unrolled Lloyd
    // rounds (argmax-cosine assignment + per-dimension round(mean, 6) →
    // FLOAT centroids — the q57/q67 fixed-iteration-unroll pattern), then
    // the final inverted-list build, nprobe=4 query probing, and ranked
    // top-5. Every cosine is the q26 fold mirror of the codegen kernel
    // (per-element double upcast, ascending-index folds, dot/(√·√)), so
    // raw-double argmax ordering agrees bit-for-bit; the cast-to-FLOAT
    // after the rounded mean re-quantizes both engines onto identical
    // centroid bits between rounds.
    "q37_ivf_ann_topk" -> {
      import graft.functions.VectorHash._
      // cosine of an n-row (dv, nrm) against a centroid row (cdv, cnrm)
      def cos(dv: String, nrm: String, cdv: String, cnrm: String): String =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
          s"list_transform(range(1, len($dv) + 1), i -> $dv[i] * $cdv[i])), " +
          s"(s, x) -> s + x) / ($nrm * $cnrm)"
      // double-upcast + norm of a FLOAT-list centroid table cX(cid, c)
      def cn(out: String, src: String): String =
        s"""$out AS (
        |  SELECT cid, list_transform(c, x -> CAST(x AS DOUBLE)) AS cdv,
        |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(c, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
        |      (s, x) -> s + x)) AS cnrm
        |  FROM $src)"""
      // one Lloyd round: nearest-centroid argmax (ties → smaller cid, the
      // engine's max_by(struct(c_cos, -cid))), then round(mean, 6) → FLOAT
      def lloyd(a: String, from: String, m: String, cNext: String): String =
        s"""$a AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT n.vec_id, t.cid,
        |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
        |        (${cos("n.dv", "n.nrm", "t.cdv", "t.cnrm")})
        |        DESC NULLS LAST, t.cid) AS rn
        |    FROM n, $from t) s
        |  WHERE rn = 1),
        |$m AS (
        |  SELECT cid, pos, round(avg(vv), 6) AS m
        |  FROM (
        |    SELECT a.cid,
        |      unnest(range(1, len(e.dv) + 1)) AS pos,
        |      unnest(e.dv) AS vv
        |    FROM $a a JOIN e ON e.vec_id = a.vec_id) u
        |  GROUP BY cid, pos),
        |$cNext AS (
        |  SELECT cid, list_transform(list(m ORDER BY pos),
        |    x -> CAST(x AS FLOAT)) AS c
        |  FROM $m GROUP BY cid)"""
      s"""WITH e AS (
        |  SELECT vec_id, embedding AS v,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, dv,
        |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(dv, x -> x * x)), (s, x) -> s + x)) AS nrm
        |  FROM e),
        |sd AS (
        |  SELECT vec_id,
        |    (($PlaneA1 * (vec_id % $PlaneP) + $PlaneB1) % $PlaneP) AS m1
        |  FROM e),
        |sh2 AS (
        |  SELECT vec_id,
        |    (($PlaneA2 * ((m1 * m1) % $PlaneP) + m1) % $PlaneP) AS h
        |  FROM sd),
        |c0 AS (
        |  SELECT CAST(row_number() OVER (ORDER BY sh2.h, sh2.vec_id) - 1
        |      AS BIGINT) AS cid,
        |    e.v AS c
        |  FROM sh2 JOIN e ON e.vec_id = sh2.vec_id
        |  QUALIFY row_number() OVER (ORDER BY sh2.h, sh2.vec_id) <= 16),
        |${cn("c0n", "c0")},
        |${lloyd("a1", "c0n", "m1r", "c1")},
        |${cn("c1n", "c1")},
        |${lloyd("a2", "c1n", "m2r", "c2")},
        |${cn("c2n", "c2")},
        |lists AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT n.vec_id, t.cid,
        |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
        |        (${cos("n.dv", "n.nrm", "t.cdv", "t.cnrm")})
        |        DESC NULLS LAST, t.cid) AS rn
        |    FROM n, c2n t) s
        |  WHERE rn = 1),
        |pr AS (
        |  SELECT query_id, cid FROM (
        |    SELECT n.vec_id AS query_id, t.cid,
        |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
        |        (${cos("n.dv", "n.nrm", "t.cdv", "t.cnrm")})
        |        DESC NULLS LAST, t.cid) AS rn
        |    FROM n, c2n t WHERE n.vec_id < 10) s
        |  WHERE rn <= 4),
        |cand AS (
        |  SELECT DISTINCT pr.query_id, l.vec_id AS neighbor_id
        |  FROM pr JOIN lists l ON l.cid = pr.cid
        |  WHERE l.vec_id <> pr.query_id),
        |c AS (
        |  SELECT cand.query_id, cand.neighbor_id,
        |    ${cos("nq.dv", "nq.nrm", "nn.dv", "nn.nrm")} AS cos
        |  FROM cand
        |  JOIN n nq ON nq.vec_id = cand.query_id
        |  JOIN n nn ON nn.vec_id = cand.neighbor_id),
        |r AS (
        |  SELECT query_id, neighbor_id, cos,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(cos, 6) DESC, neighbor_id) AS BIGINT) AS rnk
        |  FROM c)
        |SELECT query_id, rnk, neighbor_id, round(cos, 4) AS cosine
        |FROM r WHERE rnk <= 5
        |ORDER BY query_id, rnk""".stripMargin
    },

    // Java regex (Spark) and RE2 (DuckDB) agree on this alternation-of-
    // simple-atoms pattern (leftmost-first in both).
    "q38_token_counts" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text,
        |    '''s|''t|''re|''ve|''m|''ll|''d| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+')) AS BIGINT) AS n_bpe_tokens
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // Spark `percentile` and DuckDB `quantile_cont` both linearly
    // interpolate on the sorted values.
    "q35_value_percentiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.9), 4) AS p90,
        |  round(quantile_cont(value, 0.99), 4) AS p99
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // DuckDB's native ASOF LEFT JOIN ≙ the engine's union-and-sweep
    // backward as-of join; ties on (custkey, orderdate) pre-reduced to the
    // max orderkey on BOTH sides so the attached row is deterministic.
    "q39_asof_last_order" ->
      """WITH o AS (
        |  SELECT o_custkey AS user_id, o_orderdate,
        |         max(o_orderkey) AS last_orderkey,
        |         max_by(o_totalprice, o_orderkey) AS last_totalprice
        |  FROM orders GROUP BY 1, 2),
        |e AS (SELECT event_id, user_id, ts FROM events)
        |SELECT e.event_id, e.user_id, e.ts, o.last_orderkey,
        |       round(o.last_totalprice, 2) AS last_totalprice
        |FROM e ASOF LEFT JOIN o
        |  ON e.user_id = o.user_id AND e.ts >= o.o_orderdate
        |ORDER BY event_id""".stripMargin,

    // Connected components of the q25 pair graph via recursive label
    // reachability: min reachable id per vertex = cluster id.
    "q40_dedup_clusters" ->
      """WITH RECURSIVE tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, array_to_string(list_slice(t, i + 1, i + 5), ' ') AS shingle
        |  FROM tk, unnest(range(0, len(t) - 4)) AS g(i)
        |  WHERE len(t) >= 5),
        |sh AS (
        |  SELECT doc_id, shingle FROM (
        |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
        |    FROM sh0)
        |  WHERE df <= 100),
        |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |cm AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT id_a, id_b
        |  FROM cm
        |  JOIN sz na ON na.doc_id = id_a
        |  JOIN sz nb ON nb.doc_id = id_b
        |  WHERE round(CAST(n_common AS DOUBLE) / (na.n_sh + nb.n_sh - n_common), 4) >= 0.2),
        |ed AS (
        |  SELECT id_a AS src, id_b AS dst FROM p
        |  UNION ALL
        |  SELECT id_b, id_a FROM p),
        |walk(id, lbl) AS (
        |  SELECT src, src FROM ed
        |  UNION
        |  SELECT e.src, w.lbl FROM ed e JOIN walk w ON w.id = e.dst)
        |SELECT id AS doc_id, min(lbl) AS cluster_id
        |FROM walk GROUP BY id
        |ORDER BY doc_id""".stripMargin,

    // q40's recursive-CTE clusters + singleton coalesce + the q44
    // multiplicative-hash split applied to the CLUSTER id.
    "q111_leakage_safe_split" ->
      """WITH RECURSIVE tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, array_to_string(list_slice(t, i + 1, i + 5), ' ') AS shingle
        |  FROM tk, unnest(range(0, len(t) - 4)) AS g(i)
        |  WHERE len(t) >= 5),
        |sh AS (
        |  SELECT doc_id, shingle FROM (
        |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
        |    FROM sh0)
        |  WHERE df <= 100),
        |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |cm AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT id_a, id_b
        |  FROM cm
        |  JOIN sz na ON na.doc_id = id_a
        |  JOIN sz nb ON nb.doc_id = id_b
        |  WHERE round(CAST(n_common AS DOUBLE) / (na.n_sh + nb.n_sh - n_common), 4) >= 0.2),
        |ed AS (
        |  SELECT id_a AS src, id_b AS dst FROM p
        |  UNION ALL
        |  SELECT id_b, id_a FROM p),
        |walk(id, lbl) AS (
        |  SELECT src, src FROM ed
        |  UNION
        |  SELECT e.src, w.lbl FROM ed e JOIN walk w ON w.id = e.dst),
        |cl AS (SELECT id AS doc_id, min(lbl) AS cluster_id
        |  FROM walk GROUP BY id),
        |wc AS (
        |  SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
        |h AS (
        |  SELECT doc_id, cluster_id,
        |    (cluster_id % 1000003) * 2654435761 % 2147483648 AS hu
        |  FROM wc)
        |SELECT doc_id, cluster_id,
        |  CASE WHEN CAST(floor(hu * 10 / 2147483648.0) AS BIGINT) < 8 THEN 'train'
        |       WHEN CAST(floor(hu * 10 / 2147483648.0) AS BIGINT) = 8 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM h
        |ORDER BY doc_id""".stripMargin,

    // Identical raw-string synthesis, identical RE2/Java-compatible
    // patterns; DuckDB needs the 'g' flag to match Spark's replace-all.
    "q41_pii_redact" ->
      """SELECT c_custkey,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        'reach ' || c_name || ' at user' || c_custkey ||
        |        '@mail.example.com or +1-555-0' || c_custkey ||
        |        ' or https://example.com/u/' || c_custkey,
        |        'https?://[^\s]+', '[URL]', 'g'),
        |      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
        |    '\+?[0-9][0-9()\- ]{6,}[0-9]', '[PHONE]', 'g') AS clean
        |FROM customer
        |ORDER BY c_custkey""".stripMargin,

    // Ranking uses the ROUNDED tf·ln(N/df) so tie-break order matches.
    "q42_tfidf_top_terms" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |s AS (
        |  SELECT tf.doc_id, tf.term,
        |    round(tf.tf * ln(CAST(n_docs AS DOUBLE) / df.df), 4) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |r AS (
        |  SELECT doc_id, term, tfidf,
        |    CAST(row_number() OVER (
        |      PARTITION BY doc_id ORDER BY tfidf DESC, term) AS BIGINT) AS rnk
        |  FROM s)
        |SELECT doc_id, rnk, term, tfidf FROM r
        |WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin,

    // Plain inequality LEFT JOIN ≙ the engine's bucketed range join;
    // micros resolution on both sides (events carry sub-second parts).
    "q43_events_after_order" ->
      """SELECT o.o_orderkey,
        |  CAST(count(e.event_id) AS BIGINT) AS n_events
        |FROM orders o LEFT JOIN events e
        |  ON e.user_id = o.o_custkey
        | AND epoch_us(e.ts) >= epoch_us(o.o_orderdate)
        | AND epoch_us(e.ts) < epoch_us(o.o_orderdate) + 604800000000
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    // Same multiplicative-hash arithmetic (all int64, no RNG) → identical
    // sample membership and split labels on any engine.
    "q44_stratified_sample" ->
      """WITH h AS (
        |  SELECT doc_id, lang,
        |    (doc_id % 1000003) * 2654435761 % 2147483648 AS hu
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, hu,
        |    row_number() OVER (PARTITION BY lang ORDER BY hu, doc_id) AS rnk,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM h)
        |SELECT doc_id, lang,
        |  CASE WHEN CAST(floor(hu * 10 / 2147483648.0) AS BIGINT) < 8 THEN 'train'
        |       WHEN CAST(floor(hu * 10 / 2147483648.0) AS BIGINT) = 8 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM r
        |WHERE rnk <= ceil(n * 0.2)
        |ORDER BY doc_id""".stripMargin,

    // lag-flag-cumsum sessionization; micros resolution; (t, event_id)
    // ordering makes the running session counter deterministic.
    "q45_event_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t FROM events),
        |m AS (
        |  SELECT user_id, event_id, t,
        |    CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |s AS (
        |  SELECT user_id, t,
        |    CAST(sum(new_sess) OVER (
        |      PARTITION BY user_id ORDER BY t, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM m)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(t) AS start_us, max(t) AS end_us,
        |  round((max(t) - min(t)) / 1000000.0, 3) AS duration_sec
        |FROM s
        |GROUP BY 1, 2
        |ORDER BY user_id, session_id""".stripMargin,

    // RANGE frame over epoch micros = trailing-week moving aggregate.
    "q46_rolling_revenue" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey, epoch_us(o_orderdate) AS t, o_totalprice
        |  FROM orders)
        |SELECT o_orderkey, o_custkey,
        |  round(sum(o_totalprice) OVER w, 2) AS rolling_7d_spend,
        |  CAST(count(*) OVER w AS BIGINT) AS rolling_7d_orders
        |FROM o
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY t
        |  RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,

    // Exact interpolated percentiles (q35 precedent) as clip bounds.
    "q47_winsorized_stats" ->
      """WITH b AS (
        |  SELECT event_type,
        |    quantile_cont(value, 0.05) AS p05,
        |    quantile_cont(value, 0.95) AS p95
        |  FROM events GROUP BY 1)
        |SELECT e.event_type, count(*) AS n,
        |  round(avg(e.value), 4) AS raw_mean,
        |  round(avg(least(greatest(e.value, b.p05), b.p95)), 4) AS winsorized_mean
        |FROM events e JOIN b ON e.event_type = b.event_type
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    // The full curation chain: token gate → exact-dup keep-min → near-dup
    // cluster representatives (recursive CTE = q40) → hash split labels.
    "q48_curation" ->
      """WITH RECURSIVE tk0 AS (
        |  SELECT doc_id, lang, text,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, lang, text,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    round(CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE)
        |      / greatest(len(toks), 1), 4) AS stop_ratio
        |  FROM tk0),
        |gated AS (
        |  SELECT doc_id, lang, text, n_tokens,
        |    round(ln(1.0 + n_tokens) * (1.0 - stop_ratio), 4) AS quality_score
        |  FROM st WHERE n_tokens >= 20),
        |exact AS (
        |  SELECT * FROM (
        |    SELECT *, min(doc_id) OVER (PARTITION BY text) AS keep
        |    FROM gated) WHERE doc_id = keep),
        |tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, array_to_string(list_slice(t, i + 1, i + 5), ' ') AS shingle
        |  FROM tk, unnest(range(0, len(t) - 4)) AS g(i)
        |  WHERE len(t) >= 5),
        |sh AS (
        |  SELECT doc_id, shingle FROM (
        |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
        |    FROM sh0)
        |  WHERE df <= 100),
        |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |cm AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT id_a, id_b
        |  FROM cm
        |  JOIN sz na ON na.doc_id = id_a
        |  JOIN sz nb ON nb.doc_id = id_b
        |  WHERE round(CAST(n_common AS DOUBLE) / (na.n_sh + nb.n_sh - n_common), 4) >= 0.2),
        |ed AS (
        |  SELECT id_a AS src, id_b AS dst FROM p
        |  UNION ALL
        |  SELECT id_b, id_a FROM p),
        |walk(id, lbl) AS (
        |  SELECT src, src FROM ed
        |  UNION
        |  SELECT e.src, w.lbl FROM ed e JOIN walk w ON w.id = e.dst),
        |cc AS (
        |  SELECT id AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY id)
        |SELECT x.doc_id, x.lang, x.n_tokens, x.quality_score,
        |  CASE WHEN CAST(floor(((x.doc_id % 1000003) * 2654435761 % 2147483648)
        |         * 10 / 2147483648.0) AS BIGINT) < 8 THEN 'train'
        |       WHEN CAST(floor(((x.doc_id % 1000003) * 2654435761 % 2147483648)
        |         * 10 / 2147483648.0) AS BIGINT) = 8 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM exact x LEFT JOIN cc ON x.doc_id = cc.doc_id
        |WHERE cc.cluster_id IS NULL OR cc.cluster_id = x.doc_id
        |ORDER BY x.doc_id""".stripMargin,

    // Group stats rounded to 6 dp on BOTH sides before the per-row z —
    // fp accumulation order differs between engines; rounding the tiny
    // stats table pins the division inputs exactly. Every round() rides
    // the VARCHAR→DECIMAL(30,12) round-trip (the q199 class: Spark
    // rounds the double's shortest decimal string, DuckDB the
    // approximate exact value — quotients like mu, sigma and z are
    // exactly where the two conventions part).
    "q49_zscores" ->
      """WITH st AS (
        |  SELECT event_type,
        |    CAST(round(CAST(CAST(avg(value) AS VARCHAR)
        |      AS DECIMAL(30,12)), 6) AS DOUBLE) AS mu,
        |    CAST(round(CAST(CAST(stddev_samp(value) AS VARCHAR)
        |      AS DECIMAL(30,12)), 6) AS DOUBLE) AS sigma
        |  FROM events GROUP BY 1)
        |SELECT event_id, e.event_type,
        |  CAST(round(CAST(CAST((value - mu) / nullif(sigma, 0) AS VARCHAR)
        |    AS DECIMAL(30,12)), 4) AS DOUBLE) AS z
        |FROM events e JOIN st USING (event_type)
        |ORDER BY event_id""".stripMargin,

    // Occurrence-counted bigrams (no per-doc dedup), deterministic top-k
    // via the (n desc, bigram) total order.
    "q50_bigram_stats" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, array_to_string(list_slice(t, i + 1, i + 2), ' ') AS bigram
        |  FROM tk, unnest(range(0, len(t) - 1)) AS g(i)
        |  WHERE len(t) >= 2)
        |SELECT bigram, count(*) AS n,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM bg GROUP BY 1
        |ORDER BY n DESC, bigram
        |LIMIT 20""".stripMargin,

    // CASE-sum pivot ≙ Spark pivot with explicit values + coalesce(0).
    "q51_daily_type_pivot" ->
      """SELECT CAST(ts AS DATE) AS day,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events
        |GROUP BY 1
        |ORDER BY day""".stripMargin,

    // Literal ROLLUP — same null-marker subtotal convention as Spark.
    "q52_revenue_rollup" ->
      """SELECT r_name, n_name,
        |  round(sum(o_totalprice), 2) AS revenue,
        |  count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,

    // grouping_id bit order: Spark's grouping_id() and DuckDB's
    // GROUPING(a, b) both put the FIRST grouping column in the high bit.
    "q68_revenue_cube" ->
      """SELECT r_name, o_orderstatus,
        |  CAST(GROUPING(r_name, o_orderstatus) AS BIGINT) AS gid,
        |  round(sum(o_totalprice), 2) AS revenue,
        |  count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY CUBE(r_name, o_orderstatus)
        |ORDER BY gid, r_name NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,

    // Bipartite containment |A∩B|/|B_eval| (EVAL-side denominator — the
    // contamination score) with the df cap on the corpus side only —
    // mirrors Dedup.containmentPairs exactly.
    "q53_contamination" ->
      """WITH tk AS (
        |  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, source, array_to_string(list_slice(t, i + 1, i + 5), ' ') AS shingle
        |  FROM tk, unnest(range(0, len(t) - 4)) AS g(i)
        |  WHERE len(t) >= 5),
        |shc AS (
        |  SELECT doc_id, shingle FROM (
        |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
        |    FROM sh0 WHERE source <> 'src0')
        |  WHERE df <= 100),
        |she AS (SELECT doc_id, shingle FROM sh0 WHERE source = 'src0'),
        |sz AS (SELECT doc_id AS eval_id, count(*) AS n_eval_sh FROM she GROUP BY 1),
        |cm AS (
        |  SELECT c.doc_id AS doc_id, e.doc_id AS eval_id, count(*) AS n_common
        |  FROM shc c JOIN she e USING (shingle)
        |  GROUP BY 1, 2)
        |SELECT doc_id, eval_id,
        |  round(CAST(n_common AS DOUBLE) / n_eval_sh, 4) AS containment
        |FROM cm JOIN sz USING (eval_id)
        |WHERE round(CAST(n_common AS DOUBLE) / n_eval_sh, 4) >= 0.5
        |ORDER BY doc_id, eval_id""".stripMargin,

    // Identical (price desc, orderkey) tie-break on every function.
    "q54_window_suite" ->
      """SELECT o_orderkey, o_custkey,
        |  round(lag(o_totalprice) OVER w, 2) AS prev_price,
        |  round(lead(o_totalprice) OVER w, 2) AS next_price,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  round(percent_rank() OVER w, 4) AS pct_rank,
        |  round(cume_dist() OVER w, 4) AS cume,
        |  first_value(o_orderkey) OVER w AS top_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q55_set_ops" ->
      """(SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        | INTERSECT
        | SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')
        |EXCEPT
        |SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_custkey""".stripMargin,

    // Spark's max_by/min_by take a composite (value, id) struct key (the
    // data has duplicate (type, value) pairs — a bare value key would be
    // tie-ambiguous); DuckDB's arg_max has no ROW-key overload, so the
    // oracle states the same argmax as rank-1 of the identical ordering.
    "q56_conditional_aggs" ->
      """WITH m AS (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id DESC) AS rd,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value ASC, event_id ASC) AS ra
        |  FROM events)
        |SELECT event_type,
        |  CAST(count_if(value > 100.0) AS BIGINT) AS n_high,
        |  bool_or(value > 500.0) AS any_extreme,
        |  max(CASE WHEN rd = 1 THEN event_id END) AS max_value_event,
        |  max(CASE WHEN ra = 1 THEN event_id END) AS min_value_event
        |FROM m
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // Damped PageRank, exactly 5 rounds unrolled (the Spark side runs
    // tol=0, maxIter=5, so the round count is fixed). Each prN mirrors one
    // engine round verbatim: dangling mass = Σ rank of zero-out-degree
    // vertices, next = (1-d)/n + d·(Σ in-contrib + dangling/n). Literals
    // CAST to DOUBLE so both engines do the same binary arithmetic
    // (DuckDB's bare 0.85 is DECIMAL); 8-dp rounding absorbs the ~1e-15
    // relative fp-summation-order drift.
    "q57_pagerank" -> {
      def round(prev: String, next: String): String =
        s"""|$next AS (
            |  SELECT v.id,
            |         (1.0 - CAST(0.85 AS DOUBLE)) / nn.n
            |         + CAST(0.85 AS DOUBLE) * (coalesce(c.in_c, 0.0) + d.dang / nn.n) AS r
            |  FROM v CROSS JOIN nn
            |  CROSS JOIN (SELECT coalesce(sum(p.r), 0.0) AS dang
            |              FROM $prev p LEFT JOIN od ON od.id = p.id
            |              WHERE od.deg IS NULL) d
            |  LEFT JOIN (SELECT e.dst AS id, sum(p.r / od.deg) AS in_c
            |             FROM e JOIN $prev p ON p.id = e.src
            |             JOIN od ON od.id = e.src
            |             GROUP BY e.dst) c ON c.id = v.id)""".stripMargin
      s"""WITH e AS (
         |  SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v),
         |od AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY 1),
         |pr0 AS (SELECT id, 1.0 / nn.n AS r FROM v CROSS JOIN nn),
         |${round("pr0", "pr1")},
         |${round("pr1", "pr2")},
         |${round("pr2", "pr3")},
         |${round("pr3", "pr4")},
         |${round("pr4", "pr5")}
         |SELECT id, round(r, 8) AS rank FROM pr5 ORDER BY id""".stripMargin
    },

    // The salted join must be invisible in the result: plain join SQL.
    "q60_salted_revenue" ->
      """SELECT s.s_nationkey,
        |  round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    // Per-doc bigram occurrence counts → repetition fractions; the NON-
    // deduped windowing (unlike the Jaccard shingles).
    "q61_repetition_stats" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, array_to_string(list_slice(t, i + 1, i + 2), ' ') AS g
        |  FROM tk, unnest(range(0, len(t) - 1)) AS u(i)
        |  WHERE len(t) >= 2),
        |c AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(sum(c) AS BIGINT) AS n_bigrams,
        |  round(1.0 - count(*) / CAST(sum(c) AS DOUBLE), 4) AS dup_frac,
        |  round(max(c) / CAST(sum(c) AS DOUBLE), 4) AS top_frac
        |FROM c GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // Same weighted-sum shape as the engine (sum tf·ln / sum tf) so the
    // fp summation structure matches; ln (not DuckDB's log10).
    "q62_bigram_surprisal" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, array_to_string(list_slice(t, i + 1, i + 2), ' ') AS g,
        |         t[i + 1] AS w1
        |  FROM tk, unnest(range(0, len(t) - 1)) AS u(i)
        |  WHERE len(t) >= 2),
        |c2 AS (SELECT g, w1, count(*) AS c2 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY 1),
        |tf AS (SELECT doc_id, g, count(*) AS tf FROM bg GROUP BY 1, 2)
        |SELECT tf.doc_id,
        |  CAST(sum(tf.tf) AS BIGINT) AS n_bigrams,
        |  round(sum(tf.tf * ln(CAST(c1.c1 AS DOUBLE) / c2.c2)) / sum(tf.tf), 4)
        |    AS avg_surprisal
        |FROM tf JOIN c2 USING (g) JOIN c1 ON c1.w1 = c2.w1
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    // Same Knuth-hash arithmetic as q44 (all int64) + the same capped
    // weighted threshold; no floats in the output, so the hash compare is
    // airtight.
    "q63_weighted_sample" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
        |      AS DOUBLE) AS w
        |  FROM documents),
        |m AS (SELECT avg(w) AS mw FROM d)
        |SELECT doc_id, lang, CAST(w AS BIGINT) AS n_tokens
        |FROM d CROSS JOIN m
        |WHERE CAST((doc_id % 1000003) * 2654435761 % 2147483648 AS DOUBLE)
        |      / 2147483648.0
        |      < least(1.0, 0.3 * w / mw)
        |ORDER BY doc_id""".stripMargin,

    // The window formulation the custom aggregate must reproduce exactly:
    // top-3 of the (price, orderkey) lexicographic order per customer.
    "q66_topk_aggregate" ->
      """WITH r AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS BIGINT) AS rnk
        |  FROM orders)
        |SELECT o_custkey, rnk, o_orderkey,
        |       round(o_totalprice, 2) AS o_totalprice
        |FROM r WHERE rnk <= 3
        |ORDER BY o_custkey, rnk""".stripMargin,

    // Each funnel stage anchors on the previous stage's min timestamp —
    // out-of-order events never count.
    "q65_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS vt FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS ct
        |  FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts >= v.vt GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS pt
        |  FROM events e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= c.ct GROUP BY 1)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_viewed,
        |  (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_clicked_after_view,
        |  (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_full_funnel""".stripMargin,

    // Plain inequality self-join ≙ the bucketed interval-overlap join.
    "q64_overlapping_orders" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k, o_custkey AS user_id,
        |         epoch_us(o_orderdate) AS s,
        |         epoch_us(o_orderdate) + 604800000000 AS e
        |  FROM orders)
        |SELECT a.user_id, a.k AS key_a, b.k AS key_b
        |FROM o a JOIN o b
        |  ON a.user_id = b.user_id
        | AND a.s < b.e AND b.s < a.e
        | AND a.k < b.k
        |ORDER BY a.user_id, key_a, key_b""".stripMargin,

    // Batch twin of the stream-stream attribution join: click in
    // [imp_ts, imp_ts + 1h], inclusive both ends, same-user.
    "q59_attribution" ->
      """SELECT i.user_id, i.event_id AS imp_id, i.ts AS imp_ts,
        |       c.event_id AS click_id, c.ts AS click_ts
        |FROM events i JOIN events c
        |  ON c.user_id = i.user_id
        | AND c.ts >= i.ts
        | AND c.ts <= i.ts + INTERVAL 1 HOUR
        |WHERE i.event_type = 'view' AND c.event_type = 'click'
        |ORDER BY imp_id, click_id""".stripMargin,

    // BFS from c:1 over the symmetrized purchase graph. The recursive
    // UNION dedups (id, dist) pairs, so rows are bounded by V·maxDepth
    // even with cycles; min(dist) per vertex IS the BFS hop count. The
    // dist < 10 bound mirrors the engine's maxDepth=10 (frontier empties
    // long before that on this graph).
    // Per-vertex triangle counts are independent of enumeration order, so
    // the oracle uses the plain id-ordered closure join; the engine's
    // degree-ordered orientation must produce the same multiset.
    "q69_triangle_counts" ->
      """WITH cp AS (
        |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |capped AS (
        |  SELECT c, p FROM (
        |    SELECT c, p, count(*) OVER (PARTITION BY p) AS df FROM cp)
        |  WHERE df <= 18),
        |edges AS (
        |  SELECT DISTINCT x.c AS u, y.c AS v
        |  FROM capped x JOIN capped y ON x.p = y.p AND x.c < y.c),
        |tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM edges e1
        |  JOIN edges e2 ON e1.v = e2.u
        |  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT id AS cust_id, CAST(count(*) AS BIGINT) AS n_triangles
        |FROM (SELECT a AS id FROM tri
        |      UNION ALL SELECT b FROM tri
        |      UNION ALL SELECT c FROM tri)
        |GROUP BY id
        |ORDER BY cust_id""".stripMargin,

    "q70_edit_distance_pairs" ->
      """SELECT a.p_brand AS block, a.p_partkey AS id_a, b.p_partkey AS id_b,
        |  levenshtein(a.p_name, b.p_name) AS dist
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY block, id_a, id_b""".stripMargin,

    // Manual UNION ALL states the unpivot semantics the engine's Expand
    // plans in one pass.
    "q71_unpivot_metrics" ->
      """SELECT l_returnflag, metric,
        |  round(sum(value), 2) AS sum_value,
        |  round(avg(value), 4) AS avg_value,
        |  count(*) AS n
        |FROM (
        |  SELECT l_returnflag, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_tax', l_tax FROM lineitem)
        |GROUP BY l_returnflag, metric
        |ORDER BY l_returnflag, metric""".stripMargin,

    "q72_corr_matrix" ->
      """SELECT col_a, col_b, corr FROM (
        |  SELECT 'l_discount' AS col_a, 'l_tax' AS col_b,
        |    round(corr(l_discount, l_tax), 6) AS corr FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', 'l_discount',
        |    round(corr(l_extendedprice, l_discount), 6) FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', 'l_tax',
        |    round(corr(l_extendedprice, l_tax), 6) FROM lineitem
        |  UNION ALL SELECT 'l_quantity', 'l_extendedprice',
        |    round(corr(l_quantity, l_extendedprice), 6) FROM lineitem
        |  UNION ALL SELECT 'l_quantity', 'l_discount',
        |    round(corr(l_quantity, l_discount), 6) FROM lineitem
        |  UNION ALL SELECT 'l_quantity', 'l_tax',
        |    round(corr(l_quantity, l_tax), 6) FROM lineitem)
        |ORDER BY col_a, col_b""".stripMargin,

    "q73_gap_fill_locf" ->
      """WITH daily AS (
        |  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
        |    round(sum(o_totalprice), 2) AS revenue
        |  FROM orders GROUP BY 1, 2),
        |grid AS (
        |  SELECT p.priority, CAST(d.day AS DATE) AS day
        |  FROM (SELECT DISTINCT priority FROM daily) p
        |  CROSS JOIN (
        |    SELECT unnest(generate_series(
        |      (SELECT min(day) FROM daily),
        |      (SELECT max(day) FROM daily),
        |      INTERVAL 1 DAY)) AS day) d)
        |SELECT g.priority, g.day,
        |  last_value(d.revenue IGNORE NULLS) OVER (
        |    PARTITION BY g.priority ORDER BY g.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_revenue,
        |  d.revenue IS NULL AS is_gap
        |FROM grid g LEFT JOIN daily d
        |  ON d.priority = g.priority AND d.day = g.day
        |ORDER BY g.priority, g.day""".stripMargin,

    // Change-flag + running sum builds the run id (same trick as q45
    // sessionization); valid_to = next run's start.
    "q74_scd2_history" ->
      """WITH marked AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    CASE WHEN lag(event_type) OVER
        |        (PARTITION BY user_id ORDER BY ts, event_id)
        |      IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
        |  FROM events),
        |runs0 AS (
        |  SELECT user_id, event_type, ts,
        |    CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS run_id
        |  FROM marked),
        |runs AS (
        |  SELECT user_id, run_id, event_type,
        |    min(ts) AS valid_from, count(*) AS n_events
        |  FROM runs0 GROUP BY 1, 2, 3)
        |SELECT user_id, run_id, event_type, valid_from,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id)
        |    AS valid_to,
        |  n_events,
        |  (lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id)
        |    IS NULL) AS is_current
        |FROM runs
        |ORDER BY user_id, run_id""".stripMargin,

    // H = ln N − (Σ c·ln c)/N; sums of BIGINT are HUGEINT in DuckDB →
    // cast the count out, and upcast inside ln/division to DOUBLE.
    "q75_token_entropy" ->
      """WITH cnt AS (
        |  SELECT doc_id, tok, count(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY doc_id, tok)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  round(ln(CAST(sum(c) AS DOUBLE))
        |    - sum(c * ln(CAST(c AS DOUBLE))) / CAST(sum(c) AS DOUBLE), 4)
        |    AS entropy
        |FROM cnt GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "q76_event_transitions" ->
      """WITH steps AS (
        |  SELECT
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev,
        |    event_type AS curr
        |  FROM events),
        |cnt AS (
        |  SELECT prev, curr, count(*) AS n
        |  FROM steps WHERE prev IS NOT NULL GROUP BY prev, curr)
        |SELECT prev, curr, n,
        |  round(CAST(n AS DOUBLE)
        |    / CAST(sum(n) OVER (PARTITION BY prev) AS DOUBLE), 4) AS p
        |FROM cnt
        |ORDER BY prev, curr""".stripMargin,

    // median = quantile_cont(0.5), the same linear interpolation Spark's
    // exact `percentile` uses; the fence constant is CAST AS DOUBLE (bare
    // DuckDB numeric literals are DECIMAL).
    "q77_mad_outliers" ->
      """WITH med AS (
        |  SELECT event_type, median(value) AS med FROM events GROUP BY 1),
        |stats AS (
        |  SELECT e.event_type, any_value(m.med) AS med,
        |    median(abs(e.value - m.med)) AS mad
        |  FROM events e JOIN med m USING (event_type)
        |  GROUP BY e.event_type)
        |SELECT e.event_type,
        |  CAST(round(CAST(CAST(any_value(s.med) AS VARCHAR)
        |    AS DECIMAL(30,12)), 4) AS DOUBLE) AS median,
        |  CAST(round(CAST(CAST(any_value(s.mad) AS VARCHAR)
        |    AS DECIMAL(30,12)), 4) AS DOUBLE) AS mad,
        |  CAST(sum(CASE WHEN abs(e.value - s.med)
        |      > CAST(4.4478 AS DOUBLE) * s.mad THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers,
        |  count(*) AS n
        |FROM events e JOIN stats s USING (event_type)
        |GROUP BY e.event_type
        |ORDER BY e.event_type""".stripMargin,

    // Ties on acctbal break by name DESC — the lexicographic order of the
    // engine's (acctbal, name) top-k struct.
    "q78_top_customer_list" ->
      """SELECT n.n_name, count(*) AS n_customers,
        |  array_to_string(
        |    (list(c.c_name ORDER BY c.c_acctbal DESC, c.c_name DESC))[1:3],
        |    ',') AS top3
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name
        |ORDER BY n.n_name""".stripMargin,

    // FULL JOIN USING coalesces the key in both engines; presence flags
    // read the pre-coalesce nulls.
    "q79_full_outer_activity" ->
      """SELECT id,
        |  (n_orders IS NOT NULL AND n_events IS NOT NULL) AS in_both,
        |  coalesce(n_orders, 0) AS n_orders,
        |  coalesce(spend, CAST(0 AS DOUBLE)) AS spend,
        |  coalesce(n_events, 0) AS n_events,
        |  coalesce(event_value, CAST(0 AS DOUBLE)) AS event_value
        |FROM (SELECT o_custkey AS id, count(*) AS n_orders,
        |        round(sum(o_totalprice), 2) AS spend
        |      FROM orders GROUP BY 1) o
        |FULL JOIN (SELECT user_id AS id, count(*) AS n_events,
        |        round(sum(value), 2) AS event_value
        |      FROM events GROUP BY 1) e USING (id)
        |ORDER BY id""".stripMargin,

    // Left folds via list_reduce with a prepended 0 reproduce Spark's
    // aggregate() fp summation order bit-for-bit (q26 discipline).
    "q80_vector_stats" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS BIGINT) AS dim,
        |  round(sqrt(list_reduce(
        |    list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
        |    (a, b) -> a + b)), 6) AS norm2,
        |  CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
        |  round(list_reduce(
        |    list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(embedding, x ->
        |        greatest(least(CAST(x AS DOUBLE), CAST(0.1 AS DOUBLE)),
        |          CAST(-0.1 AS DOUBLE)))),
        |    (a, b) -> a + b) / len(embedding), 6) AS clipped_mean
        |FROM embeddings
        |ORDER BY vec_id""".stripMargin,

    "q81_grouping_sets" ->
      """SELECT n_name AS nation, year(o_orderdate) AS yr,
        |  CAST(GROUPING(n_name, year(o_orderdate)) AS BIGINT) AS gid,
        |  round(sum(o_totalprice), 2) AS revenue,
        |  count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((n_name, year(o_orderdate)), (n_name),
        |  (year(o_orderdate)))
        |ORDER BY gid, nation NULLS FIRST, yr NULLS FIRST""".stripMargin,

    // The engine's relational HLL replayed register-for-register: same
    // quadratic-congruential mixer over the Mersenne prime (constants =
    // graft.analytics.Hll / VectorHash), same 10-bit bucket split, rho
    // from the binary-string length (bin() exists in both dialects and
    // both render no leading zeros), INTEGER harmonic sum, and the same
    // two-branch estimator. The __all__ row is max-merged from the
    // per-type register CTE, mirroring the engine's rescan-free union.
    // DISTINCT first is equivalent to the engine's direct max-aggregation
    // over raw events (max ignores duplicates) — registers identical.
    "q82_hll_sketches" ->
      s"""WITH e AS (
        |  SELECT DISTINCT event_type, user_id FROM events
        |  WHERE user_id IS NOT NULL),
        |h AS (
        |  SELECT event_type,
        |    (1566083941 * ((m1 * m1) % 2147483647) + m1) % 2147483647 AS hh
        |  FROM (
        |    SELECT event_type,
        |      (506952114 * ((user_id % 2147483647 + 2147483647) % 2147483647)
        |        + 1013904223) % 2147483647 AS m1
        |    FROM e)),
        |regs AS (
        |  SELECT event_type, hh & 1023 AS bucket,
        |    max(22 - CASE WHEN (hh >> 10) = 0 THEN 0
        |                  ELSE length(bin(hh >> 10)) END) AS reg
        |  FROM h GROUP BY 1, 2),
        |allregs AS (
        |  SELECT '__all__' AS event_type, bucket, max(reg) AS reg
        |  FROM regs GROUP BY 2),
        |sk AS (
        |  SELECT event_type, count(*) AS used,
        |    sum(1 << (22 - reg)) AS s_part
        |  FROM (SELECT * FROM regs UNION ALL SELECT * FROM allregs)
        |  GROUP BY 1),
        |est AS (
        |  SELECT event_type, used,
        |    ${java.lang.Double.toString(graft.analytics.Hll.AlphaNum)}
        |      / CAST(s_part + (1024 - used) * 4194304 AS DOUBLE) AS raw
        |  FROM sk),
        |ex AS (
        |  SELECT event_type, count(DISTINCT user_id) AS exact_users
        |  FROM e GROUP BY 1
        |  UNION ALL
        |  SELECT '__all__', count(DISTINCT user_id) FROM e)
        |SELECT est.event_type,
        |  CAST(round(CASE WHEN raw <= 2560.0 AND used < 1024
        |       THEN 1024.0 * ln(1024.0 / CAST(1024 - used AS DOUBLE))
        |       ELSE raw END) AS BIGINT) AS est_users,
        |  CAST(exact_users AS BIGINT) AS exact_users
        |FROM est JOIN ex ON ex.event_type = est.event_type
        |ORDER BY 1""".stripMargin,

    // Each event lands in len/slide = 4 epoch-aligned windows: the k-offset
    // cross join reproduces Spark's window(ts, '1 hour', '15 minutes').
    "q83_sliding_windows" ->
      """SELECT ws AS window_start, event_type, count(*) AS n_events
        |FROM (
        |  SELECT time_bucket(INTERVAL '15 minutes', ts)
        |           - k * INTERVAL '15 minutes' AS ws,
        |         event_type
        |  FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k))
        |GROUP BY ws, event_type
        |ORDER BY window_start, event_type""".stripMargin,

    // ASOF with the inequality flipped = the forward join; the 7-day
    // look-ahead tolerance nulls the attachment after the match.
    "q84_next_event" ->
      """WITH ev AS (
        |  SELECT user_id, ts, min(event_id) AS next_event_id
        |  FROM events GROUP BY user_id, ts)
        |SELECT o.o_orderkey, o.o_custkey AS user_id,
        |  CASE WHEN e.ts <= o.o_orderdate + INTERVAL 7 DAY
        |       THEN e.next_event_id END AS next_event_id
        |FROM orders o ASOF LEFT JOIN ev e
        |  ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
        |ORDER BY o.o_orderkey""".stripMargin,

    "q85_event_type_pmi" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |tc AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
        |nu AS (SELECT count(DISTINCT user_id) AS n_users FROM ut),
        |p AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    count(*) AS n_ab
        |  FROM ut a JOIN ut b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, n_ab,
        |  round(ln(CAST(n_ab AS DOUBLE) * nu.n_users
        |    / CAST(ta.n * tb.n AS DOUBLE)), 4) AS pmi
        |FROM p
        |JOIN tc ta ON ta.event_type = p.type_a
        |JOIN tc tb ON tb.event_type = p.type_b
        |CROSS JOIN nu
        |ORDER BY type_a, type_b""".stripMargin,

    // day − row_number() is constant within a consecutive-day run: the
    // gaps-and-islands grouping without a self-join.
    "q86_activity_streaks" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |isl AS (
        |  SELECT user_id, day,
        |    day - CAST(row_number() OVER
        |      (PARTITION BY user_id ORDER BY day) AS INTEGER) AS grp
        |  FROM days),
        |st AS (
        |  SELECT user_id, grp, count(*) AS len, min(day) AS start_day
        |  FROM isl GROUP BY 1, 2),
        |sel AS (
        |  SELECT user_id, len, start_day,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY len DESC, start_day) AS rn,
        |    sum(len) OVER (PARTITION BY user_id) AS tot
        |  FROM st)
        |SELECT user_id, len AS streak_len, start_day AS streak_start,
        |  CAST(tot AS BIGINT) AS n_active_days
        |FROM sel WHERE rn = 1
        |ORDER BY user_id""".stripMargin,

    "q87_nation_regression" ->
      """SELECT n_name AS nation, count(*) AS n,
        |  round(regr_slope(o_totalprice, x), 4) AS slope,
        |  round(regr_intercept(o_totalprice, x), 2) AS intercept,
        |  round(regr_r2(o_totalprice, x), 6) AS r2
        |FROM (
        |  SELECT o_totalprice, o_custkey,
        |    CAST(datediff('day', DATE '1992-01-01',
        |      CAST(o_orderdate AS DATE)) AS DOUBLE) AS x
        |  FROM orders)
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY nation""".stripMargin,

    "q88_modal_priority" ->
      """WITH counts AS (
        |  SELECT c_mktsegment AS segment, o_orderpriority AS priority,
        |    count(*) AS n
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2)
        |SELECT segment, priority AS mode_priority, n
        |FROM (SELECT *, row_number() OVER (PARTITION BY segment
        |        ORDER BY n DESC, priority) AS rn FROM counts)
        |WHERE rn = 1
        |ORDER BY segment""".stripMargin,

    // init-less list_reduce seeds with the first element — the same
    // seeding as the Spark side's element_at(xs, 1) + slice fold; the
    // 0.3/0.7 coefficients are spelled on both sides (never 1 − α) so
    // the float recursion is bit-identical.
    "q89_ewma_daily" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |ser AS (
        |  SELECT event_type,
        |    list(CAST(n AS DOUBLE) ORDER BY day) AS xs,
        |    count(*) AS n_days, max(day) AS last_day
        |  FROM daily GROUP BY 1)
        |SELECT event_type, n_days, last_day,
        |  round(list_reduce(xs, (a, b) ->
        |    CAST(0.3 AS DOUBLE) * b + CAST(0.7 AS DOUBLE) * a), 6) AS ewma
        |FROM ser
        |ORDER BY event_type""".stripMargin,

    "q90_price_histogram" ->
      """WITH counts AS (
        |  SELECT least(CAST(floor(o_totalprice / CAST(25000 AS DOUBLE))
        |      AS BIGINT), 23) AS bucket, count(*) AS n
        |  FROM orders GROUP BY 1),
        |grid AS (SELECT unnest(range(24)) AS bucket)
        |SELECT g.bucket,
        |  g.bucket * CAST(25000 AS DOUBLE) AS lo,
        |  (g.bucket + 1) * CAST(25000 AS DOUBLE) AS hi,
        |  CAST(coalesce(n, 0) AS BIGINT) AS n
        |FROM grid g LEFT JOIN counts c ON g.bucket = c.bucket
        |ORDER BY g.bucket""".stripMargin,

    // skyline on distinct profiles: sorted by (price asc, size desc), a
    // profile is dominated iff an earlier row's size ≥ its own — the
    // running-max window replaces the dominance self-join.
    "q91_part_frontier" ->
      """WITH prof AS (
        |  SELECT DISTINCT p_brand, p_retailprice, p_size FROM part),
        |m AS (
        |  SELECT p_brand, p_retailprice, p_size,
        |    max(p_size) OVER (PARTITION BY p_brand
        |      ORDER BY p_retailprice ASC, p_size DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM prof)
        |SELECT p_brand AS brand, p_retailprice AS price, p_size AS part_size
        |FROM m WHERE pm IS NULL OR pm < p_size
        |ORDER BY brand, price, part_size""".stripMargin,

    // Plain every-shingle inverted index: the prefix filter is a
    // semantics-neutral optimization (candidate SUPERSET + exact verify),
    // so the oracle states only the measure — exact Jaccard over the FULL
    // 5-shingle universe (q25's oracle applies a df cap; this one must
    // not). Division spelled as c / (na + nb − c) with both operands cast
    // to DOUBLE on both sides → identical bits → the τ boundary can't
    // disagree.
    "q92_token_jaccard_pairs" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(list_slice(t, i + 1, i + 5), ' ') AS token
        |  FROM tk, unnest(range(0, len(t) - 4)) AS g(i)
        |  WHERE len(t) >= 5),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |  FROM sh a JOIN sh b
        |    ON a.token = b.token AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT id_a, id_b,
        |    CAST(c AS DOUBLE) / CAST(na.n + nb.n - c AS DOUBLE) AS jac
        |  FROM common
        |  JOIN sz na ON na.doc_id = id_a
        |  JOIN sz nb ON nb.doc_id = id_b)
        |SELECT id_a, id_b, round(jac, 4) AS jaccard
        |FROM j WHERE jac >= CAST(0.8 AS DOUBLE)
        |ORDER BY id_a, id_b""".stripMargin,

    // The MG sketch + recheck is semantics-neutral (guaranteed candidate
    // superset, then exact counts): the oracle states only the measure.
    // n·64 > total is pure integer — no boundary fp risk.
    "q93_heavy_tokens" ->
      """WITH tok AS (
        |  SELECT token FROM (
        |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  WHERE token <> ''),
        |tot AS (SELECT count(*) AS total FROM tok),
        |c AS (SELECT token, count(*) AS n FROM tok GROUP BY 1)
        |SELECT token, n FROM c, tot
        |WHERE n * 64 > total
        |ORDER BY n DESC, token""".stripMargin,

    // Peeling unrolled to 8 rounds — the measured fixpoint is ≤ 2
    // effective rounds at every SF and peel rounds are idempotent at
    // fixpoint, so rounds 3-8 are no-ops; the Spark side iterates to
    // stability and THROWS past 8 rounds, so both engines can only ever
    // report the same (fixpoint) table.
    "q94_kcore" -> {
      // MATERIALIZED is load-bearing: e_{i−1} is referenced three times
      // per round, so inlined CTEs would re-expand the base scan 3^8
      // times (DuckDB then dies on fd exhaustion before it dies on time).
      val rounds = (1 to 8).map { i =>
        s"""d$i AS MATERIALIZED (SELECT src FROM e${i - 1} GROUP BY src
           |  HAVING count(*) >= 10),
           |e$i AS MATERIALIZED (SELECT c.src, c.dst FROM e${i - 1} c
           |  JOIN d$i a ON c.src = a.src
           |  JOIN d$i b2 ON c.dst = b2.src)""".stripMargin
      }.mkString(",\n")
      s"""WITH b AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |e0 AS MATERIALIZED (SELECT src, dst FROM b UNION SELECT dst, src FROM b),
         |$rounds
         |SELECT CASE WHEN src % 2 = 0 THEN 'c:' || (src >> 1)
         |            ELSE 's:' || (src >> 1) END AS id,
         |  count(*) AS deg
         |FROM e8 GROUP BY 1
         |ORDER BY id""".stripMargin
    },

    "q95_association_rules" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |nb AS (SELECT count(DISTINCT o) AS n_baskets FROM b),
        |ic AS (SELECT p, count(*) AS n_item FROM b GROUP BY 1),
        |pairs AS (
        |  SELECT a.p AS item_a, b2.p AS item_b, count(*) AS n_ab
        |  FROM b a JOIN b b2 ON a.o = b2.o AND a.p < b2.p
        |  GROUP BY 1, 2)
        |SELECT item_a, item_b, n_ab,
        |  round(CAST(n_ab AS DOUBLE) / CAST(n_baskets AS DOUBLE), 6)
        |    AS support,
        |  round(CAST(n_ab AS DOUBLE) / CAST(na.n_item AS DOUBLE), 6)
        |    AS conf_a_to_b,
        |  round(CAST(n_ab AS DOUBLE) / CAST(nb2.n_item AS DOUBLE), 6)
        |    AS conf_b_to_a,
        |  round(CAST(n_ab * n_baskets AS DOUBLE)
        |    / CAST(na.n_item * nb2.n_item AS DOUBLE), 6) AS lift
        |FROM pairs
        |JOIN ic na ON na.p = item_a
        |JOIN ic nb2 ON nb2.p = item_b
        |CROSS JOIN nb
        |WHERE n_ab >= 2
        |ORDER BY item_a, item_b""".stripMargin,

    // The Bloom prefilter is a candidate-superset pass with exact
    // removal after it — the oracle is the PLAIN semi-join.
    "q96_bloom_semijoin" ->
      """SELECT o_orderpriority AS priority, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |WHERE o_custkey IN (
        |  SELECT c_custkey FROM customer WHERE c_acctbal > 9000.0)
        |GROUP BY 1
        |ORDER BY priority""".stripMargin,

    "q97_chi_square" ->
      """WITH cells AS (
        |  SELECT event_type, c_mktsegment AS segment, count(*) AS o
        |  FROM events JOIN customer ON c_custkey = user_id
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT o,
        |    sum(o) OVER (PARTITION BY event_type) AS row_tot,
        |    sum(o) OVER (PARTITION BY segment) AS col_tot,
        |    sum(o) OVER () AS n,
        |    event_type, segment
        |  FROM cells),
        |e AS (
        |  SELECT o, event_type, segment, n,
        |    CAST(row_tot * col_tot AS DOUBLE) / CAST(n AS DOUBLE) AS ex
        |  FROM m)
        |SELECT
        |  round(sum(pow(CAST(o AS DOUBLE) - ex, 2) / ex), 4) AS chi2,
        |  CAST((count(DISTINCT event_type) - 1)
        |    * (count(DISTINCT segment) - 1) AS BIGINT) AS dof,
        |  CAST(max(n) AS BIGINT) AS n
        |FROM e""".stripMargin,

    // One plain global window states the ranking; the Spark side builds
    // the identical ranks with bucket-local windows + broadcast prefix
    // offsets (the zipWithIndex pattern) — semantics-neutral.
    "q98_gini_spend" ->
      """WITH spend AS (
        |  SELECT o_custkey AS id, round(sum(o_totalprice), 2) AS x
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT x, row_number() OVER (ORDER BY x, id) AS i FROM spend),
        |a AS (
        |  SELECT count(*) AS n, sum(x) AS sx, sum(i * x) AS six FROM r)
        |SELECT CAST(n AS BIGINT) AS n_customers,
        |  round(sx, 2) AS total_spend,
        |  round((CAST(2 AS DOUBLE) * six) / (n * sx)
        |    - CAST(n + 1 AS DOUBLE) / n, 6) AS gini
        |FROM a""".stripMargin,

    // Same symbol strings (ordered by ts, event_id), same regexes; both
    // engines count non-overlapping leftmost matches, so n_matches agrees.
    "q99_sequence_motifs" ->
      """WITH seqs AS (
        |  SELECT user_id, list_aggregate(
        |    list(substr(event_type, 1, 1) ORDER BY ts, event_id),
        |    'string_agg', '') AS seq
        |  FROM events GROUP BY 1)
        |SELECT pattern, n_keys_matching, n_matches FROM (
        |  SELECT 'browse_to_buy' AS pattern,
        |    CAST(sum(CASE WHEN regexp_matches(seq, 'v+c+p')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_keys_matching,
        |    CAST(sum(len(regexp_extract_all(seq, 'v+c+p'))) AS BIGINT)
        |      AS n_matches
        |  FROM seqs
        |  UNION ALL
        |  SELECT 'error_retry',
        |    CAST(sum(CASE WHEN regexp_matches(seq, 'e[vc]*e')
        |      THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(len(regexp_extract_all(seq, 'e[vc]*e'))) AS BIGINT)
        |  FROM seqs
        |  UNION ALL
        |  SELECT 'instant_buy',
        |    CAST(sum(CASE WHEN regexp_matches(seq, 'sp')
        |      THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(len(regexp_extract_all(seq, 'sp'))) AS BIGINT)
        |  FROM seqs)
        |ORDER BY pattern""".stripMargin,

    // One plain global running sum states the token offsets; the Spark
    // side builds identical offsets with bucket-local windows + broadcast
    // prefix bases. Offsets are non-negative, so `//` (trunc) == floor.
    "q100_sequence_packing" ->
      """WITH sized AS (
        |  SELECT doc_id, CAST(len(list_filter(string_split(text, ' '),
        |    x -> x <> '')) AS BIGINT) AS n
        |  FROM documents
        |  WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) >= 1),
        |c AS (
        |  SELECT n, sum(n) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e
        |  FROM sized),
        |b AS (
        |  SELECT n, CAST((e - n) // 512 AS BIGINT) AS bin,
        |    ((e - 1) // 512) > ((e - n) // 512) AS crosses
        |  FROM c)
        |SELECT bin, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN crosses THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_crossing
        |FROM b GROUP BY 1
        |ORDER BY bin""".stripMargin,

    "q101_chunking" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
        |    AS t
        |  FROM documents),
        |nn AS (
        |  SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n
        |  FROM tk WHERE len(t) >= 1),
        |ch AS (
        |  SELECT doc_id,
        |    len(list_slice(t, CAST(i * 48 + 1 AS BIGINT),
        |      CAST(least(i * 48 + 64, n) AS BIGINT))) AS ct
        |  FROM nn, unnest(range(0, (n - 1) // 48 + 1)) AS g(i))
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(ct) AS BIGINT) AS chunk_token_sum,
        |  CAST(max(ct) AS BIGINT) AS max_chunk,
        |  CAST(min(ct) AS BIGINT) AS min_chunk
        |FROM ch GROUP BY 1
        |ORDER BY doc_id""".stripMargin,

    // BM25 constants spelled as decimal literals on both sides (2.2,
    // 1.2, 0.25, 0.75, 0.5 — runtime-derived constants can land an ulp
    // off). The cosine block is the q26 kernel mirror (left-ordered
    // folds). Rank keys use round(·, 6) on both sides.
    "q102_hybrid_rrf" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
        |    AS t
        |  FROM documents WHERE doc_id <> 0),
        |b2 AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, t
        |  FROM base WHERE len(t) >= 1),
        |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM b2),
        |tf AS (
        |  SELECT doc_id, dl, term, count(*) AS tf FROM (
        |    SELECT doc_id, dl, unnest(t) AS term FROM b2)
        |  WHERE term IN ('join', 'merge', 'sort') GROUP BY 1, 2, 3),
        |dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT doc_id, sum(
        |    ln(CAST(1 AS DOUBLE) + (n_docs - df + CAST(0.5 AS DOUBLE))
        |      / (df + CAST(0.5 AS DOUBLE)))
        |    * (tf * CAST(2.2 AS DOUBLE))
        |    / (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
        |      + CAST(0.75 AS DOUBLE) * dl
        |        / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
        |    AS score
        |  FROM tf JOIN dfs USING (term) CROSS JOIN stats GROUP BY 1),
        |tt AS (SELECT doc_id, score FROM sc
        |  ORDER BY round(score, 6) DESC, doc_id LIMIT 50),
        |tr AS (SELECT doc_id, CAST(row_number() OVER
        |  (ORDER BY round(score, 6) DESC, doc_id) AS BIGINT) AS rank_text
        |  FROM tt),
        |e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))
        |    AS v
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, v,
        |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(v, x -> x * x)), (s, x) -> s + x)) AS nrm
        |  FROM e),
        |qv AS (SELECT v AS q, nrm AS qn FROM n WHERE vec_id = 0),
        |cs AS (
        |  SELECT n.vec_id AS doc_id,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1, len(q) + 1), i -> q[i] * v[i])),
        |      (s, x) -> s + x) / (qn * nrm) AS cos
        |  FROM n, qv WHERE n.vec_id <> 0),
        |ct AS (SELECT doc_id, cos FROM cs
        |  ORDER BY round(cos, 6) DESC, doc_id LIMIT 50),
        |vr AS (SELECT doc_id, CAST(row_number() OVER
        |  (ORDER BY round(cos, 6) DESC, doc_id) AS BIGINT) AS rank_vec
        |  FROM ct),
        |f AS (
        |  SELECT coalesce(tr.doc_id, vr.doc_id) AS doc_id,
        |    rank_text, rank_vec,
        |    coalesce(CAST(1 AS DOUBLE) / (rank_text + 60), CAST(0 AS DOUBLE))
        |      + coalesce(CAST(1 AS DOUBLE) / (rank_vec + 60),
        |        CAST(0 AS DOUBLE)) AS rrf
        |  FROM tr FULL JOIN vr ON tr.doc_id = vr.doc_id)
        |SELECT doc_id, rank_text, rank_vec, round(rrf, 6) AS rrf
        |FROM f ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,

    // dow from pure date arithmetic (dayofweek() week origins differ);
    // residuals rounded BEFORE the 2σ fence so both engines compare
    // identical numbers.
    "q103_seasonal_anomalies" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT day, n,
        |    avg(n) OVER (ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
        |    datediff('day', DATE '1992-01-01', day) % 7 AS dow
        |  FROM daily),
        |s AS (
        |  SELECT day, n, trend,
        |    avg(n - trend) OVER (PARTITION BY dow) AS seasonal
        |  FROM t),
        |r AS (
        |  SELECT day, n, trend, seasonal,
        |    CAST(round(CAST(CAST(n - trend - seasonal AS VARCHAR)
        |      AS DECIMAL(30,12)), 4) AS DOUBLE) AS resid
        |  FROM s),
        |f AS (SELECT *,
        |  CAST(round(CAST(CAST(stddev_samp(resid) OVER () AS VARCHAR)
        |    AS DECIMAL(30,12)), 4) AS DOUBLE) AS sd FROM r)
        |SELECT day, n,
        |  CAST(round(CAST(CAST(trend AS VARCHAR)
        |    AS DECIMAL(30,12)), 4) AS DOUBLE) AS trend,
        |  CAST(round(CAST(CAST(seasonal AS VARCHAR)
        |    AS DECIMAL(30,12)), 4) AS DOUBLE) AS seasonal, resid,
        |  abs(resid) > CAST(2 AS DOUBLE) * sd AS is_anomaly
        |FROM f ORDER BY day""".stripMargin,

    // Both "runs" derive deterministically from the same table, so the
    // oracle rebuilds them; the classification itself is the operator.
    "q104_snapshot_diff" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |    ROW(o_totalprice, o_orderstatus, o_orderpriority) AS p
        |  FROM orders
        |  WHERE CAST(o_orderdate AS DATE) < DATE '1998-06-01'),
        |n AS (
        |  SELECT o_orderkey AS k,
        |    ROW(CASE WHEN o_orderkey % 97 = 0
        |          THEN round(o_totalprice + CAST(1 AS DOUBLE), 2)
        |          ELSE o_totalprice END,
        |      o_orderstatus, o_orderpriority) AS p
        |  FROM orders WHERE o_orderkey % 89 <> 0),
        |d AS (
        |  SELECT CASE WHEN o.k IS NULL THEN 'added'
        |              WHEN n.k IS NULL THEN 'removed'
        |              WHEN o.p IS NOT DISTINCT FROM n.p THEN 'unchanged'
        |              ELSE 'changed' END AS status
        |  FROM o FULL JOIN n ON o.k = n.k)
        |SELECT status, count(*) AS n FROM d GROUP BY 1
        |ORDER BY status""".stripMargin,

    // q48's gate + min-doc_id keep-rule, then q101's chunk arithmetic.
    "q105_rag_prep" ->
      """WITH tk0 AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, text, toks,
        |    CAST(len(toks) AS BIGINT) AS n_tokens
        |  FROM tk0),
        |gated AS (SELECT * FROM st WHERE n_tokens >= 20),
        |kept AS (
        |  SELECT doc_id, toks, n_tokens FROM (
        |    SELECT doc_id, toks, n_tokens,
        |      min(doc_id) OVER (PARTITION BY text) AS keep_id
        |    FROM gated)
        |  WHERE doc_id = keep_id),
        |ch AS (
        |  SELECT doc_id,
        |    len(list_slice(toks, CAST(i * 48 + 1 AS BIGINT),
        |      CAST(least(i * 48 + 64, n_tokens) AS BIGINT))) AS ct
        |  FROM kept, unnest(range(0, (n_tokens - 1) // 48 + 1)) AS g(i))
        |SELECT count(DISTINCT doc_id) AS n_docs_kept,
        |  count(*) AS n_chunks,
        |  CAST(sum(ct) AS BIGINT) AS chunk_tokens,
        |  round(CAST(sum(ct) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
        |    AS avg_chunk_tokens
        |FROM ch""".stripMargin,

    // SemDeDup screen over the fixed first-8-vectors codebook. The cosine
    // kernel is the q26 left-fold mirror; every ordering/threshold decision
    // goes through round(·, 6) on both engines (assignment argmax, the
    // within-cluster rank, and the τ compare), so fp last-ulp drift cannot
    // flip an assignment, a rank, or a drop.
    "q106_semantic_dedup" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, v,
        |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(v, x -> x * x)), (s, x) -> s + x)) AS nrm
        |  FROM e),
        |-- nlist scales with the corpus: max(8, n/64) — same knob as Spark
        |c AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn
        |  FROM n WHERE vec_id <
        |    (SELECT greatest(8, count(*) // 64) FROM embeddings)),
        |sc AS (
        |  SELECT n.vec_id, c.centroid_id,
        |    round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1, len(v) + 1), i -> v[i] * cv[i])),
        |      (s, x) -> s + x) / (nrm * cn), 6) AS c_cos
        |  FROM n, c),
        |asg AS (
        |  SELECT vec_id, centroid_id, c_cos FROM (
        |    SELECT vec_id, centroid_id, c_cos,
        |      row_number() OVER (PARTITION BY vec_id
        |        ORDER BY c_cos DESC, centroid_id) AS cr
        |    FROM sc)
        |  WHERE cr = 1),
        |r AS (
        |  SELECT vec_id, centroid_id, c_cos,
        |    CAST(row_number() OVER (PARTITION BY centroid_id
        |      ORDER BY c_cos ASC, vec_id) AS BIGINT) AS rnk
        |  FROM asg),
        |dups AS (
        |  SELECT DISTINCT a.vec_id
        |  FROM r a
        |  JOIN r b ON a.centroid_id = b.centroid_id AND b.rnk < a.rnk
        |  JOIN n na ON na.vec_id = a.vec_id
        |  JOIN n nb ON nb.vec_id = b.vec_id
        |  WHERE round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1, len(na.v) + 1), i -> na.v[i] * nb.v[i])),
        |      (s, x) -> s + x) / (na.nrm * nb.nrm), 6) >= 0.4),
        |res AS (
        |  SELECT r.vec_id, r.centroid_id, r.rnk,
        |    d.vec_id IS NULL AS kept
        |  FROM r LEFT JOIN dups d ON r.vec_id = d.vec_id)
        |SELECT vec_id, centroid_id, rnk, kept
        |FROM res ORDER BY vec_id""".stripMargin,

    // q134: the TRAINED two-level quantizer replayed end-to-end — the q37
    // Lloyd unroll applied at BOTH levels. Level 1: seed-hash init → two
    // unrolled Lloyd rounds give the ⌈√nlist⌉ super codebook. Level 2:
    // route every vector to its nearest super (raw-cosine argmax; the
    // training routing is fixed across rounds, exactly as the engine
    // caches `routed`), budget-proportional per-super leaf init in
    // seed-hash order (ids super_id·nlist + rank, no global numbering),
    // two SUPER-LOCAL Lloyd rounds — each vector competes only among its
    // super's children, the n·√nlist shape the engine runs — then probe-2
    // assignment (top-2 supers by raw cosine, rounded-cosine argmax among
    // their children) and the q106 SemDeDup screen verbatim. Every cosine
    // is the q26 fold mirror of the codegen kernel; training argmaxes
    // compare RAW doubles exactly like the engine's max_by, every
    // rank/threshold decision goes through round(·, 6), and the
    // cast-to-FLOAT after each rounded mean re-quantizes both engines
    // onto identical centroid bits between rounds. nlist/nsuper derive
    // from count(*) with the same max(8, n/64) knob as the engine.
    "q134_semdedup_trained" -> {
      import graft.functions.VectorHash._
      def cos(dv: String, nrm: String, cdv: String, cnrm: String): String =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
          s"list_transform(range(1, len($dv) + 1), i -> $dv[i] * $cdv[i])), " +
          s"(s, x) -> s + x) / ($nrm * $cnrm)"
      // double-upcast + norm of a FLOAT-list SUPER table sX(cid, c)
      def cn(out: String, src: String): String =
        s"""$out AS (
        |  SELECT cid, list_transform(c, x -> CAST(x AS DOUBLE)) AS cdv,
        |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(c, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
        |      (s, x) -> s + x)) AS cnrm
        |  FROM $src)"""
      // same, for a CHILD table lX(super_id, cid, c)
      def cnc(out: String, src: String): String =
        s"""$out AS (
        |  SELECT super_id, cid, list_transform(c, x -> CAST(x AS DOUBLE)) AS cdv,
        |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(c, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
        |      (s, x) -> s + x)) AS cnrm
        |  FROM $src)"""
      // one SUPER Lloyd round over the whole corpus (the q37 lloyd)
      def lloyd(a: String, from: String, m: String, cNext: String): String =
        s"""$a AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT nn.vec_id, t.cid,
        |      row_number() OVER (PARTITION BY nn.vec_id ORDER BY
        |        (${cos("nn.dv", "nn.nrm", "t.cdv", "t.cnrm")})
        |        DESC NULLS LAST, t.cid) AS rn
        |    FROM n nn, $from t) s
        |  WHERE rn = 1),
        |$m AS (
        |  SELECT cid, pos, round(avg(vv), 6) AS m
        |  FROM (
        |    SELECT a.cid,
        |      unnest(range(1, len(e.dv) + 1)) AS pos,
        |      unnest(e.dv) AS vv
        |    FROM $a a JOIN e ON e.vec_id = a.vec_id) u
        |  GROUP BY cid, pos),
        |$cNext AS (
        |  SELECT cid, list_transform(list(m ORDER BY pos),
        |    x -> CAST(x AS FLOAT)) AS c
        |  FROM $m GROUP BY cid)"""
      // one CHILD Lloyd round: the candidate join is KEYED on the fixed
      // routing rt, so each vector scores only its super's children
      def clloyd(a: String, from: String, m: String, cNext: String): String =
        s"""$a AS (
        |  SELECT vec_id, super_id, cid FROM (
        |    SELECT rt.vec_id, t.super_id, t.cid,
        |      row_number() OVER (PARTITION BY rt.vec_id ORDER BY
        |        (${cos("nn.dv", "nn.nrm", "t.cdv", "t.cnrm")})
        |        DESC NULLS LAST, t.cid) AS rn
        |    FROM rt
        |    JOIN $from t USING (super_id)
        |    JOIN n nn ON nn.vec_id = rt.vec_id) s
        |  WHERE rn = 1),
        |$m AS (
        |  SELECT super_id, cid, pos, round(avg(vv), 6) AS m
        |  FROM (
        |    SELECT a.super_id, a.cid,
        |      unnest(range(1, len(e.dv) + 1)) AS pos,
        |      unnest(e.dv) AS vv
        |    FROM $a a JOIN e ON e.vec_id = a.vec_id) u
        |  GROUP BY super_id, cid, pos),
        |$cNext AS (
        |  SELECT super_id, cid, list_transform(list(m ORDER BY pos),
        |    x -> CAST(x AS FLOAT)) AS c
        |  FROM $m GROUP BY super_id, cid)"""
      s"""WITH e AS (
        |  SELECT vec_id, embedding AS v,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, dv,
        |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(dv, x -> x * x)), (s, x) -> s + x)) AS nrm
        |  FROM e),
        |k AS (
        |  SELECT greatest(8, count(*) // 64) AS nlist,
        |    CAST(ceil(sqrt(CAST(greatest(8, count(*) // 64) AS DOUBLE)))
        |      AS BIGINT) AS nsuper
        |  FROM embeddings),
        |sd AS (
        |  SELECT vec_id,
        |    (($PlaneA1 * (vec_id % $PlaneP) + $PlaneB1) % $PlaneP) AS m1
        |  FROM e),
        |sh2 AS (
        |  SELECT vec_id,
        |    (($PlaneA2 * ((m1 * m1) % $PlaneP) + m1) % $PlaneP) AS h
        |  FROM sd),
        |s0 AS (
        |  SELECT CAST(row_number() OVER (ORDER BY sh2.h, sh2.vec_id) - 1
        |      AS BIGINT) AS cid,
        |    e.v AS c
        |  FROM sh2 JOIN e ON e.vec_id = sh2.vec_id
        |  QUALIFY row_number() OVER (ORDER BY sh2.h, sh2.vec_id)
        |    <= (SELECT nsuper FROM k)),
        |${cn("s0n", "s0")},
        |${lloyd("sa1", "s0n", "sm1", "s1")},
        |${cn("s1n", "s1")},
        |${lloyd("sa2", "s1n", "sm2", "s2")},
        |${cn("s2n", "s2")},
        |rt AS (
        |  SELECT vec_id, cid AS super_id FROM (
        |    SELECT nn.vec_id, t.cid,
        |      row_number() OVER (PARTITION BY nn.vec_id ORDER BY
        |        (${cos("nn.dv", "nn.nrm", "t.cdv", "t.cnrm")})
        |        DESC NULLS LAST, t.cid) AS rn
        |    FROM n nn, s2n t) s
        |  WHERE rn = 1),
        |bg AS (
        |  SELECT super_id,
        |    greatest(1, CAST(round((SELECT nlist FROM k) * count(*)
        |      / (SELECT count(*) FROM rt)) AS BIGINT)) AS budget
        |  FROM rt GROUP BY super_id),
        |li AS (
        |  SELECT rt.super_id, rt.vec_id,
        |    row_number() OVER (PARTITION BY rt.super_id
        |      ORDER BY sh2.h, rt.vec_id) AS r
        |  FROM rt JOIN sh2 ON sh2.vec_id = rt.vec_id),
        |l0 AS (
        |  SELECT li.super_id,
        |    CAST(li.super_id * (SELECT nlist FROM k) + li.r - 1
        |      AS BIGINT) AS cid,
        |    e.v AS c
        |  FROM li
        |  JOIN bg ON bg.super_id = li.super_id
        |  JOIN e ON e.vec_id = li.vec_id
        |  WHERE li.r <= bg.budget),
        |${cnc("l0n", "l0")},
        |${clloyd("ca1", "l0n", "cm1", "l1")},
        |${cnc("l1n", "l1")},
        |${clloyd("ca2", "l1n", "cm2", "l2")},
        |${cnc("l2n", "l2")},
        |r2 AS (
        |  SELECT vec_id, cid AS super_id FROM (
        |    SELECT nn.vec_id, t.cid,
        |      row_number() OVER (PARTITION BY nn.vec_id ORDER BY
        |        (${cos("nn.dv", "nn.nrm", "t.cdv", "t.cnrm")})
        |        DESC NULLS LAST, t.cid) AS rn
        |    FROM n nn, s2n t) s
        |  WHERE rn <= 2),
        |cand AS (
        |  SELECT r2.vec_id, t.cid,
        |    round(${cos("nn.dv", "nn.nrm", "t.cdv", "t.cnrm")}, 6) AS c_cos
        |  FROM r2
        |  JOIN l2n t USING (super_id)
        |  JOIN n nn ON nn.vec_id = r2.vec_id),
        |asg AS (
        |  SELECT vec_id, cid AS centroid_id, c_cos FROM (
        |    SELECT vec_id, cid, c_cos,
        |      row_number() OVER (PARTITION BY vec_id
        |        ORDER BY c_cos DESC NULLS LAST, cid) AS rn
        |    FROM cand) s
        |  WHERE rn = 1),
        |r AS (
        |  SELECT vec_id, centroid_id, c_cos,
        |    CAST(row_number() OVER (PARTITION BY centroid_id
        |      ORDER BY c_cos ASC, vec_id) AS BIGINT) AS rnk
        |  FROM asg),
        |dups AS (
        |  SELECT DISTINCT a.vec_id
        |  FROM r a
        |  JOIN r b ON a.centroid_id = b.centroid_id AND b.rnk < a.rnk
        |  JOIN n na ON na.vec_id = a.vec_id
        |  JOIN n nb ON nb.vec_id = b.vec_id
        |  WHERE round(${cos("na.dv", "na.nrm", "nb.dv", "nb.nrm")}, 6)
        |    >= 0.4)
        |SELECT r.vec_id, r.centroid_id, r.rnk,
        |  d.vec_id IS NULL AS kept
        |FROM r LEFT JOIN dups d ON r.vec_id = d.vec_id
        |ORDER BY r.vec_id""".stripMargin
    },

    // Matrix-free power iteration, exactly 8 rounds unrolled (the Spark
    // side runs iters=8). Each round mirrors the engine verbatim:
    // s_i = x_i·v (left fold), nv[pos] = Σ_i x_i[pos]·s_i, v ← nv/‖nv‖.
    // Cross-row per-dimension sums differ between engines at ~1e-15
    // relative (fp summation order), but power iteration CONTRACTS toward
    // the dominant eigenvector, and the 4-dp projection rounding sits ≥4
    // orders of magnitude above the residual drift (measured margin ≥1.4e-8
    // to the nearest boundary at all three SFs). Sign pivot = first index
    // of max |component|, same tie-break both sides.
    "q67_pca_projection" -> {
      def round(k: Int): String =
        s"""|sc$k AS (SELECT vec_id, x,
            |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            |    list_transform(range(1, len(x) + 1), i -> x[i] * v[i])),
            |    (s, y) -> s + y) AS s
            |  FROM xc, v$k),
            |ag$k AS (SELECT pos, sum(x[pos] * s) AS nv
            |  FROM sc$k, unnest(range(1, 65)) g(pos) GROUP BY pos),
            |nv$k AS (SELECT list(nv ORDER BY pos) AS u FROM ag$k),
            |v${k + 1} AS (SELECT list_transform(u, z -> z / sqrt(
            |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            |      list_transform(u, y -> y * y)), (s, y) -> s + y))) AS v
            |  FROM nv$k)""".stripMargin
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |mm AS (SELECT pos, avg(v[pos]) AS mu
         |  FROM e, unnest(range(1, 65)) g(pos) GROUP BY pos),
         |mv AS (SELECT list(mu ORDER BY pos) AS mu FROM mm),
         |xc AS (SELECT vec_id,
         |  list_transform(range(1, len(v) + 1), i -> v[i] - mu[i]) AS x
         |  FROM e, mv),
         |v1 AS (SELECT list_transform(u, z -> z / sqrt(
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(u, y -> y * y)), (s, y) -> s + y))) AS v
         |  FROM (SELECT list_transform(range(0, 64),
         |      j -> 1.0 + CAST(j AS DOUBLE) / 64) AS u)),
         |${(1 to 8).map(round).mkString(",\n")},
         |piv AS (SELECT j FROM v9, unnest(range(1, 65)) g(j)
         |  ORDER BY abs(v[j]) DESC, j LIMIT 1),
         |pc AS (SELECT CASE WHEN v[j] < 0
         |    THEN list_transform(v, z -> -z) ELSE v END AS p
         |  FROM v9, piv)
         |SELECT vec_id,
         |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform(range(1, len(v) + 1), i -> v[i] * p[i])),
         |    (s, y) -> s + y), 4) AS pc_score
         |FROM e, pc
         |ORDER BY vec_id""".stripMargin
    },

    // BPE trainer, exactly 10 merges unrolled. Each round mirrors the
    // engine verbatim: overlapping adjacent-pair counts over the weighted
    // vocab, argmax with (freq desc, l, r) tie-break, then the SAME
    // pipe-encoded left fold (list_reduce here, `aggregate` there) applying
    // greedy non-overlapping replacement. Frequencies are integers — no fp
    // anywhere — so the match is exact by construction.
    "q107_bpe_merges" -> {
      def round(k: Int): String =
        s"""|p$k AS (SELECT t[i] AS l, t[i + 1] AS r, sum(w) AS f
            |  FROM s${k - 1}, unnest(range(1, len(t))) g(i) GROUP BY 1, 2),
            |m$k AS (SELECT CAST($k AS BIGINT) AS step, l AS ml, r AS mr,
            |  CAST(f AS BIGINT) AS f
            |  FROM p$k ORDER BY f DESC, l, r LIMIT 1),
            |s$k AS (SELECT string_split(trim(
            |    list_reduce(list_prepend('', t), (acc, x) -> CASE
            |      WHEN ends_with(acc, '|' || ml) AND x = mr THEN acc || x
            |      ELSE acc || '|' || x END), '|'), '|') AS t, w
            |  FROM s${k - 1}, m$k)""".stripMargin
      s"""WITH toks AS (
         |  SELECT t AS word, CAST(count(*) AS BIGINT) AS w FROM (
         |    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
         |      AS t
         |    FROM documents)
         |  WHERE regexp_matches(t, '^[a-z]+$$')
         |  GROUP BY 1),
         |s0 AS (SELECT list_append(
         |    list_transform(range(1, len(word) + 1), i -> word[i]),
         |    '</w>') AS t, w
         |  FROM toks),
         |${(1 to 10).map(round).mkString(",\n")},
         |ms AS (${(1 to 10).map(k => s"SELECT * FROM m$k")
                    .mkString("\n  UNION ALL ")})
         |SELECT step, ml AS lhs, mr AS rhs, f AS freq
         |FROM ms ORDER BY step""".stripMargin
    },

    // BPE ENCODE: q107's 10 training rounds with the word column carried
    // through (so the final sequences double as the word→segmentation
    // lookup), then the per-doc rollup over the eligible-word stream.
    // Integer counts only — exact by construction.
    // q109's training/segmentation CTEs with lang carried through and the
    // rollup keyed on language instead of document.
    "q133_bpe_fertility" -> {
      def round(k: Int): String =
        s"""|p$k AS (SELECT t[i] AS l, t[i + 1] AS r, sum(w) AS f
            |  FROM s${k - 1}, unnest(range(1, len(t))) g(i) GROUP BY 1, 2),
            |m$k AS (SELECT l AS ml, r AS mr
            |  FROM p$k ORDER BY f DESC, l, r LIMIT 1),
            |s$k AS (SELECT word, string_split(trim(
            |    list_reduce(list_prepend('', t), (acc, x) -> CASE
            |      WHEN ends_with(acc, '|' || ml) AND x = mr THEN acc || x
            |      ELSE acc || '|' || x END), '|'), '|') AS t, w
            |  FROM s${k - 1}, m$k)""".stripMargin
      s"""WITH wd AS (
         |  SELECT doc_id, lang, t AS word FROM (
         |    SELECT doc_id, lang,
         |      unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
         |    FROM documents)
         |  WHERE regexp_matches(t, '^[a-z]+$$')),
         |toks AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS w FROM wd GROUP BY 1),
         |s0 AS (SELECT word, list_append(
         |    list_transform(range(1, len(word) + 1), i -> word[i]),
         |    '</w>') AS t, w
         |  FROM toks),
         |${(1 to 10).map(round).mkString(",\n")},
         |seg AS (SELECT word, CAST(len(t) AS BIGINT) AS n_sub,
         |    CAST(len(word) + 1 AS BIGINT) AS n_sym
         |  FROM s10)
         |SELECT lang, count(DISTINCT doc_id) AS n_docs, count(*) AS n_words,
         |  CAST(sum(n_sub) AS BIGINT) AS n_subwords,
         |  CAST(sum(n_sym) AS BIGINT) AS n_symbols,
         |  round(CAST(sum(n_sub) AS DOUBLE) / count(*), 4) AS fertility,
         |  round(CAST(sum(n_sub) AS DOUBLE) / sum(n_sym), 4) AS compression
         |FROM wd JOIN seg USING (word)
         |GROUP BY 1
         |ORDER BY lang""".stripMargin
    },

    "q109_bpe_encode" -> {
      def round(k: Int): String =
        s"""|p$k AS (SELECT t[i] AS l, t[i + 1] AS r, sum(w) AS f
            |  FROM s${k - 1}, unnest(range(1, len(t))) g(i) GROUP BY 1, 2),
            |m$k AS (SELECT l AS ml, r AS mr
            |  FROM p$k ORDER BY f DESC, l, r LIMIT 1),
            |s$k AS (SELECT word, string_split(trim(
            |    list_reduce(list_prepend('', t), (acc, x) -> CASE
            |      WHEN ends_with(acc, '|' || ml) AND x = mr THEN acc || x
            |      ELSE acc || '|' || x END), '|'), '|') AS t, w
            |  FROM s${k - 1}, m$k)""".stripMargin
      s"""WITH wd AS (
         |  SELECT doc_id, t AS word FROM (
         |    SELECT doc_id,
         |      unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
         |    FROM documents)
         |  WHERE regexp_matches(t, '^[a-z]+$$')),
         |toks AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS w FROM wd GROUP BY 1),
         |s0 AS (SELECT word, list_append(
         |    list_transform(range(1, len(word) + 1), i -> word[i]),
         |    '</w>') AS t, w
         |  FROM toks),
         |${(1 to 10).map(round).mkString(",\n")},
         |seg AS (SELECT word, CAST(len(t) AS BIGINT) AS n_sub,
         |    CAST(len(word) + 1 AS BIGINT) AS n_sym
         |  FROM s10)
         |SELECT wd.doc_id, count(*) AS n_words,
         |  CAST(sum(n_sub) AS BIGINT) AS n_subwords,
         |  CAST(sum(n_sym) AS BIGINT) AS n_symbols,
         |  round(CAST(sum(n_sub) AS DOUBLE) / sum(n_sym), 4) AS compression
         |FROM wd JOIN seg USING (word)
         |GROUP BY 1
         |ORDER BY wd.doc_id""".stripMargin
    },

    // Repeated-span detection: corpus-wide gram counts (window, no pair
    // join), then the same running-max interval union per doc. All-integer
    // span arithmetic; only the final fraction is a rounded double.
    "q110_repeated_spans" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
        |    AS t
        |  FROM documents),
        |nn AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens, t
        |  FROM tk WHERE len(t) >= 5),
        |g AS (
        |  SELECT doc_id, array_to_string(list_slice(t, i + 1, i + 5), ' ')
        |      AS gram,
        |    CAST(i AS BIGINT) AS s, CAST(i + 4 AS BIGINT) AS e
        |  FROM nn, unnest(range(0, len(t) - 4)) AS u(i)),
        |rep AS (
        |  SELECT doc_id, s, e FROM (
        |    SELECT doc_id, s, e, count(*) OVER (PARTITION BY gram) AS c
        |    FROM g)
        |  WHERE c >= 2),
        |fl AS (
        |  SELECT doc_id, s, e,
        |    CASE WHEN max(e) OVER w IS NULL OR s > max(e) OVER w + 1
        |      THEN 1 ELSE 0 END AS ni
        |  FROM rep
        |  WINDOW w AS (PARTITION BY doc_id ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |il AS (
        |  SELECT doc_id, s, e,
        |    sum(ni) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM fl),
        |sp AS (
        |  SELECT doc_id, island, max(e) - min(s) + 1 AS cov
        |  FROM il GROUP BY 1, 2),
        |st AS (
        |  SELECT doc_id, count(*) AS n_spans,
        |    CAST(max(cov) AS BIGINT) AS longest_span,
        |    CAST(sum(cov) AS BIGINT) AS covered
        |  FROM sp GROUP BY 1)
        |SELECT nn.doc_id, nn.n_tokens,
        |  coalesce(st.n_spans, CAST(0 AS BIGINT)) AS n_spans,
        |  coalesce(st.longest_span, CAST(0 AS BIGINT)) AS longest_span,
        |  round(CAST(coalesce(st.covered, CAST(0 AS BIGINT)) AS DOUBLE)
        |    / nn.n_tokens, 4) AS repeated_frac
        |FROM nn LEFT JOIN st ON nn.doc_id = st.doc_id
        |ORDER BY nn.doc_id""".stripMargin,

    // Incremental admission screen: exact tier = EXISTS on text equality;
    // containment tier = the q53 bipartite mirror with batch as the eval
    // side, max per batch doc, LEFT-joined so screen-free docs report
    // (false, 0.0, admitted).
    "q108_incremental_screen" ->
      """WITH b AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
        |c AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
        |ex AS (
        |  SELECT DISTINCT b.doc_id FROM b
        |  WHERE EXISTS (SELECT 1 FROM c WHERE c.text = b.text)),
        |tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
        |    AS t
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(list_slice(t, i + 1, i + 5), ' ') AS shingle
        |  FROM tk, unnest(range(0, len(t) - 4)) AS g(i)
        |  WHERE len(t) >= 5),
        |shc AS (
        |  SELECT doc_id, shingle FROM (
        |    SELECT doc_id, shingle,
        |      count(*) OVER (PARTITION BY shingle) AS df
        |    FROM sh0 WHERE doc_id % 5 <> 0)
        |  WHERE df <= 100),
        |she AS (SELECT doc_id, shingle FROM sh0 WHERE doc_id % 5 = 0),
        |sz AS (SELECT doc_id AS b_id, count(*) AS n_b FROM she GROUP BY 1),
        |cm AS (
        |  SELECT e.doc_id AS b_id, count(*) AS n_common
        |  FROM shc cc JOIN she e USING (shingle)
        |  GROUP BY e.doc_id, cc.doc_id),
        |mx AS (
        |  SELECT b_id AS doc_id,
        |    max(round(CAST(n_common AS DOUBLE) / n_b, 4)) AS mc
        |  FROM cm JOIN sz USING (b_id) GROUP BY 1)
        |SELECT b.doc_id,
        |  ex.doc_id IS NOT NULL AS exact_dup,
        |  coalesce(mx.mc, CAST(0.0 AS DOUBLE)) AS max_containment,
        |  ex.doc_id IS NULL AND coalesce(mx.mc, CAST(0.0 AS DOUBLE)) < 0.5
        |    AS admitted
        |FROM b LEFT JOIN ex ON b.doc_id = ex.doc_id
        |LEFT JOIN mx ON b.doc_id = mx.doc_id
        |ORDER BY b.doc_id""".stripMargin,

    "q58_bfs_depths" ->
      """WITH RECURSIVE b AS (
        |  SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |e AS (SELECT src, dst FROM b UNION SELECT dst, src FROM b),
        |walk(id, dist) AS (
        |  SELECT 'c:1', CAST(0 AS BIGINT)
        |  UNION
        |  SELECT e.dst, w.dist + 1
        |  FROM e JOIN walk w ON w.id = e.src
        |  WHERE w.dist < 10)
        |SELECT id, min(dist) AS dist
        |FROM walk GROUP BY id
        |ORDER BY dist, id""".stripMargin,

    // Per-doc signals computed per row (list folds on the Spark side, a
    // token unnest here); all ratio thresholds compare on round(·, 4) so
    // every boundary decision matches. The top-token count is the per-doc
    // mode frequency (max run of the sorted array on the Spark side).
    "q112_quality_rules" ->
      """WITH tk AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, u AS token, count(*) AS c
        |  FROM (SELECT doc_id, unnest(t) AS u FROM tk)
        |  GROUP BY 1, 2),
        |md AS (SELECT doc_id, max(c) AS mx FROM tf GROUP BY doc_id),
        |-- LEFT join: a zero-token doc has no tf rows but still counts in
        |-- n_docs and the fail columns (the engine keeps it; mx reads 0)
        |sig AS (
        |  SELECT tk.doc_id, source,
        |    len(t) AS n_tokens,
        |    round(CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0)
        |      AS DOUBLE) / greatest(len(t), 1), 4) AS avg_token_len,
        |    round(CAST(len(list_distinct(t)) AS DOUBLE)
        |      / greatest(len(t), 1), 4) AS distinct_ratio,
        |    round(CAST(coalesce(md.mx, 0) AS DOUBLE)
        |      / greatest(len(t), 1), 4) AS top_token_ratio,
        |    len(list_filter(t, x -> x IN
        |      ('the','a','and','of','el','la','los','y','le','les','et','une',
        |       'der','die','und','das'))) AS stop_hits
        |  FROM tk LEFT JOIN md ON tk.doc_id = md.doc_id),
        |f AS (
        |  SELECT source,
        |    (n_tokens < 20 OR n_tokens > 95) AS fail_len,
        |    (avg_token_len < 3.0 OR avg_token_len > 8.0) AS fail_word_len,
        |    (distinct_ratio < 0.4) AS fail_diversity,
        |    (top_token_ratio > 0.2) AS fail_top_token,
        |    (stop_hits < 1) AS fail_stop
        |  FROM sig)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CAST(fail_len AS BIGINT)) AS BIGINT) AS n_fail_len,
        |  CAST(sum(CAST(fail_word_len AS BIGINT)) AS BIGINT) AS n_fail_word_len,
        |  CAST(sum(CAST(fail_diversity AS BIGINT)) AS BIGINT) AS n_fail_diversity,
        |  CAST(sum(CAST(fail_top_token AS BIGINT)) AS BIGINT) AS n_fail_top_token,
        |  CAST(sum(CAST(fail_stop AS BIGINT)) AS BIGINT) AS n_fail_stop,
        |  CAST(sum(CAST(NOT (fail_len OR fail_word_len OR fail_diversity
        |    OR fail_top_token OR fail_stop) AS BIGINT)) AS BIGINT) AS n_pass
        |FROM f
        |GROUP BY source
        |ORDER BY source""".stripMargin,

    // Weight rounds to 6 decimals BEFORE the budget multiply, so the
    // floor() boundary is computed from bit-identical doubles; target and
    // epochs then derive from exact integers on both sides.
    "q113_mixture_plan" ->
      """WITH s AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> '')))
        |      AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |t AS (SELECT sum(pow(CAST(n_tokens AS DOUBLE), 0.7)) AS w_total,
        |             sum(n_tokens) AS corpus_tokens FROM s)
        |SELECT source, n_docs, n_tokens,
        |  round(pow(CAST(n_tokens AS DOUBLE), 0.7) / w_total, 6) AS weight,
        |  CAST(floor(round(pow(CAST(n_tokens AS DOUBLE), 0.7) / w_total, 6)
        |    * round(CAST(corpus_tokens AS DOUBLE) * 0.5)) AS BIGINT) AS target_tokens,
        |  round(CAST(floor(round(pow(CAST(n_tokens AS DOUBLE), 0.7) / w_total, 6)
        |    * round(CAST(corpus_tokens AS DOUBLE) * 0.5)) AS DOUBLE)
        |    / n_tokens, 4) AS epochs
        |FROM s CROSS JOIN t
        |ORDER BY source""".stripMargin,

    // Laplace-smoothed multinomial NB: train on even doc_ids, score odd.
    // Scores round to 6 before the argmax; ties break lang-ascending on
    // both sides (row_number here, min over (-score, lang) in the engine).
    "q114_nb_lang" ->
      """WITH tk AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |tr AS (SELECT * FROM tk WHERE doc_id % 2 = 0),
        |te AS (SELECT * FROM tk WHERE doc_id % 2 <> 0),
        |trtok AS (SELECT doc_id, lang, unnest(t) AS token FROM tr),
        |vocab AS (
        |  SELECT token FROM (
        |    SELECT token, count(DISTINCT doc_id) AS df FROM trtok GROUP BY 1)
        |  WHERE df >= 5),
        |vs AS (SELECT count(*) AS v FROM vocab),
        |nt AS (SELECT count(*) AS n_train FROM tr),
        |priors AS (
        |  SELECT lang, ln(CAST(count(*) AS DOUBLE) / (SELECT n_train FROM nt))
        |    AS log_prior
        |  FROM tr GROUP BY lang),
        |langs AS (SELECT lang FROM priors),
        |cnt AS (
        |  SELECT lang, token, count(*) AS c
        |  FROM trtok JOIN vocab USING (token)
        |  GROUP BY 1, 2),
        |tot AS (SELECT lang, sum(c) AS tc FROM cnt GROUP BY lang),
        |model AS (
        |  SELECT l.lang, v.token,
        |    ln((coalesce(c.c, 0) + 1.0) / (CAST(t.tc AS DOUBLE) + vs.v)) AS log_p
        |  FROM langs l CROSS JOIN vocab v CROSS JOIN vs
        |  LEFT JOIN cnt c ON c.lang = l.lang AND c.token = v.token
        |  JOIN tot t ON t.lang = l.lang),
        |tetok AS (SELECT doc_id, unnest(t) AS token FROM te),
        |contrib AS (
        |  SELECT x.doc_id, m.lang, sum(m.log_p) AS s
        |  FROM tetok x JOIN model m USING (token)
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT d.doc_id, d.lang AS true_lang, l.lang,
        |    round(p.log_prior + coalesce(c.s, 0.0), 6) AS score
        |  FROM te d CROSS JOIN langs l
        |  JOIN priors p ON p.lang = l.lang
        |  LEFT JOIN contrib c ON c.doc_id = d.doc_id AND c.lang = l.lang),
        |pred AS (
        |  SELECT doc_id, true_lang, lang AS pred_lang
        |  FROM (SELECT *, row_number() OVER (
        |          PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
        |        FROM scored)
        |  WHERE rn = 1)
        |SELECT true_lang AS lang, pred_lang, count(*) AS n
        |FROM pred
        |GROUP BY 1, 2
        |ORDER BY lang, pred_lang""".stripMargin,

    // Centroid components round to 6 BEFORE the cosine, so both engines
    // fold bit-identical inputs; the dot/norm accumulation runs in dim
    // order on the Spark side and the rounding absorbs DuckDB's group-order
    // summation.
    "q115_label_centroids" ->
      """WITH e AS (
        |  SELECT label, i - 1 AS dim, embedding[i] AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS g(i)),
        |c AS (
        |  SELECT label, dim, round(avg(CAST(v AS DOUBLE)), 6) AS cv
        |  FROM e GROUP BY 1, 2),
        |p AS (
        |  SELECT a.label AS label_a, b.label AS label_b,
        |    sum(a.cv * b.cv) AS dot,
        |    sum(a.cv * a.cv) AS na, sum(b.cv * b.cv) AS nb
        |  FROM c a JOIN c b ON a.dim = b.dim AND a.label < b.label
        |  GROUP BY 1, 2)
        |SELECT label_a, label_b,
        |  round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos_sim
        |FROM p
        |ORDER BY label_a, label_b""".stripMargin,

    // Nearest-rank selection; the rank arithmetic ceil(q·n) runs on the
    // same IEEE doubles in both engines, so the selected index is exact —
    // the full sort here is the oracle's privilege, not the engine's.
    // Same smoothing/rounding discipline as q131: densified (source x
    // vocab) pairs, Laplace-smoothed distributions, round(., 6) after
    // the divergence sums.
    "q132_source_divergence" ->
      """WITH tk AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |tok AS (SELECT doc_id, source, unnest(t) AS token FROM tk),
        |vocab AS (
        |  SELECT token FROM (
        |    SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1)
        |  WHERE df >= 5),
        |ps AS (
        |  SELECT source, token, count(*) AS c
        |  FROM tok JOIN vocab USING (token) GROUP BY 1, 2),
        |st AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens
        |  FROM ps GROUP BY 1),
        |cg AS (SELECT token, sum(c) AS cg FROM ps GROUP BY 1),
        |ng AS (SELECT sum(cg) AS ng FROM cg),
        |v AS (SELECT count(*) AS nv FROM vocab),
        |dense AS (
        |  SELECT st.source, st.n_tokens,
        |    (coalesce(ps.c, 0) + 1.0) / (st.n_tokens + nv) AS p,
        |    (cg.cg + 1.0) / (ng.ng + nv) AS q
        |  FROM vocab
        |  CROSS JOIN st
        |  LEFT JOIN ps ON ps.source = st.source AND ps.token = vocab.token
        |  JOIN cg ON cg.token = vocab.token, ng, v)
        |SELECT source, any_value(n_tokens) AS n_tokens,
        |  CAST(round(CAST(CAST(sum(p * ln(p / q)) AS VARCHAR)
        |    AS DECIMAL(30,12)), 6) AS DOUBLE) AS kl,
        |  CAST(round(CAST(CAST(sum(abs(p - q)) * 0.5 AS VARCHAR)
        |    AS DECIMAL(30,12)), 6) AS DOUBLE) AS tvd
        |FROM dense
        |GROUP BY source
        |ORDER BY source""".stripMargin,

    // Laplace-smoothed unigram LLR over the shared df-floored vocabulary;
    // per-doc weight rounds to 6 AFTER the sum (the q114 fp discipline),
    // and the selection threshold is the nearest-rank 0.8 quantile of the
    // rounded weights — a full sort here mirrors the engine's
    // bucket-offset selection exactly.
    "q131_dsir_weights" ->
      """WITH tk AS (
        |  SELECT doc_id, lang = 'en' AS is_target,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |tok AS (SELECT doc_id, is_target, unnest(t) AS token FROM tk),
        |vocab AS (
        |  SELECT token FROM (
        |    SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1)
        |  WHERE df >= 5),
        |cnt AS (
        |  SELECT token,
        |    sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct,
        |    sum(CASE WHEN NOT is_target THEN 1 ELSE 0 END) AS cr
        |  FROM tok JOIN vocab USING (token) GROUP BY 1),
        |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM cnt),
        |v AS (SELECT count(*) AS nv FROM vocab),
        |model AS (
        |  SELECT token,
        |    ln(((ct + 1.0) / (nt + nv)) / ((cr + 1.0) / (nr + nv))) AS llr
        |  FROM cnt, tot, v),
        |raw AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens
        |  FROM tk WHERE NOT is_target),
        |sc AS (
        |  SELECT doc_id, round(sum(llr), 6) AS w
        |  FROM tok JOIN model USING (token)
        |  WHERE NOT is_target GROUP BY 1),
        |wts AS (
        |  SELECT raw.doc_id, raw.n_tokens, coalesce(sc.w, 0.0) AS weight
        |  FROM raw LEFT JOIN sc ON raw.doc_id = sc.doc_id),
        |thr AS (
        |  SELECT weight AS thr FROM (
        |    SELECT weight, row_number() OVER (ORDER BY weight) AS rn,
        |      count(*) OVER () AS n
        |    FROM wts)
        |  WHERE rn = CAST(ceil(0.8 * n) AS BIGINT))
        |SELECT doc_id, n_tokens, weight, weight >= thr AS selected
        |FROM wts, thr
        |ORDER BY doc_id""".stripMargin,

    // Nearest-rank per group: the value at rank ceil(q*n_g) is unique even
    // under ties, so the full-sort formulation here and the bucket-offset
    // selection on the Spark side agree exactly.
    "q130_grouped_quantiles" ->
      """WITH t AS (
        |  SELECT o_orderpriority AS g, CAST(o_totalprice AS DOUBLE) AS v
        |  FROM orders),
        |qv AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9]) AS DOUBLE) AS q),
        |o AS (
        |  SELECT g, v,
        |    row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
        |    count(*) OVER (PARTITION BY g) AS n
        |  FROM t)
        |SELECT g AS o_orderpriority, q, v AS value
        |FROM qv JOIN o ON rn = CAST(ceil(q * n) AS BIGINT)
        |ORDER BY o_orderpriority, q""".stripMargin,

    "q116_global_quantiles" ->
      """WITH t AS (
        |  SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS DOUBLE) AS q),
        |o AS (
        |  SELECT l_extendedprice AS v,
        |    row_number() OVER (ORDER BY l_extendedprice) AS rn,
        |    count(*) OVER () AS n
        |  FROM lineitem)
        |SELECT q, v AS value
        |FROM t JOIN o ON rn = CAST(ceil(q * n) AS BIGINT)
        |ORDER BY q""".stripMargin,

    // Distinct (source, shingle) bounds per-shingle fanout to |sources|;
    // the containment ratio compares on round(·, 4) like every ratio gate.
    "q117_source_overlap" ->
      """WITH tk AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT source,
        |    array_to_string(list_slice(t, i + 1, i + 5), ' ') AS shingle
        |  FROM tk, unnest(range(0, len(t) - 4)) AS g(i)
        |  WHERE len(t) >= 5),
        |sz AS (SELECT source, count(*) AS n_sh FROM sh GROUP BY source),
        |cm AS (
        |  SELECT a.source AS sa, b.source AS sb, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT sa AS source_a, sb AS source_b, n_common,
        |  round(CAST(n_common AS DOUBLE) / least(na.n_sh, nb.n_sh), 4)
        |    AS containment
        |FROM cm
        |JOIN sz na ON na.source = sa
        |JOIN sz nb ON nb.source = sb
        |ORDER BY source_a, source_b""".stripMargin,

    // Codes are bit-exact (min/max codebooks have no summation-order
    // drift; round-half-up matches for positive args); the two error
    // stats are the only rounded outputs, ppm-scaled so 6 dp keeps
    // signal. Squares spelled as e*e, NOT pow(), for identical arithmetic.
    "q118_scalar_quantization" ->
      """WITH e AS (
        |  SELECT vec_id, label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS g(i)),
        |cb AS (SELECT dim, min(v) AS lo, max(v) AS hi FROM e GROUP BY dim),
        |q AS (
        |  SELECT vec_id, label, v, lo, hi,
        |    CASE WHEN hi = lo THEN 0.0
        |         ELSE round((v - lo) * 255.0 / (hi - lo), 0) END AS code
        |  FROM e JOIN cb ON e.dim = cb.dim),
        |r AS (
        |  SELECT vec_id, label,
        |    sum((v - (lo + code * (hi - lo) / 255.0))
        |      * (v - (lo + code * (hi - lo) / 255.0))) AS sq_err,
        |    sum(CAST(code AS BIGINT)) AS code_sum,
        |    count(*) AS d,
        |    sum(CASE WHEN code = 0.0 OR code = 255.0 THEN 1 ELSE 0 END) AS n_sat
        |  FROM q GROUP BY 1, 2)
        |SELECT label, count(*) AS n_vecs,
        |  CAST(sum(n_sat) AS BIGINT) AS n_saturated,
        |  round(CAST(sum(code_sum) AS DOUBLE) / CAST(sum(d) AS DOUBLE), 4)
        |    AS avg_code,
        |  round(avg(sq_err / d) * 1e6, 6) AS mse_ppm
        |FROM r GROUP BY label
        |ORDER BY label""".stripMargin,

    // Week truncation is ISO-Monday in both engines; the offset is integer
    // day-diff div 7 (activity weeks are exact multiples of the cohort
    // week), so no float touches the matrix except the final ratio.
    "q119_cohort_retention" ->
      """WITH a AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS week
        |  FROM events),
        |f AS (SELECT user_id, min(week) AS cohort_week FROM a GROUP BY user_id),
        |c AS (
        |  SELECT cohort_week,
        |    date_diff('day', cohort_week, week) // 7 AS week_offset,
        |    count(*) AS n_active
        |  FROM a JOIN f USING (user_id)
        |  GROUP BY 1, 2),
        |s AS (SELECT cohort_week, n_active AS n_cohort FROM c WHERE week_offset = 0)
        |SELECT c.cohort_week AS cohort_week, week_offset, n_active, n_cohort,
        |  round(CAST(n_active AS DOUBLE) / n_cohort, 4) AS retention
        |FROM c JOIN s ON c.cohort_week = s.cohort_week
        |ORDER BY c.cohort_week, week_offset""".stripMargin,

    // The census threshold uses the ROUNDED avg ×10 on both sides so the
    // heavy-key boundary is bit-identical; sums of CASE are cast out of
    // HUGEINT per the q75/q100 discipline.
    "q120_skew_report" ->
      """WITH r AS (
        |  SELECT 'orders.o_custkey' AS rel, o_custkey AS k FROM orders
        |  UNION ALL SELECT 'lineitem.l_partkey', l_partkey FROM lineitem
        |  UNION ALL SELECT 'events.user_id', user_id FROM events),
        |c AS (SELECT rel, k, count(*) AS cnt FROM r GROUP BY 1, 2),
        |t AS (
        |  SELECT rel, CAST(sum(cnt) AS BIGINT) AS n_rows, count(*) AS n_keys,
        |    CAST(max(cnt) AS BIGINT) AS max_per_key
        |  FROM c GROUP BY rel)
        |SELECT t.rel, n_rows, n_keys,
        |  round(CAST(n_rows AS DOUBLE) / n_keys, 4) AS avg_per_key,
        |  max_per_key,
        |  round(CAST(max_per_key AS DOUBLE)
        |    / (CAST(n_rows AS DOUBLE) / n_keys), 4) AS skew_factor,
        |  CAST(sum(CASE WHEN CAST(cnt AS DOUBLE)
        |      > round(CAST(n_rows AS DOUBLE) / n_keys, 4) * 10.0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_keys_over_10x
        |FROM c JOIN t ON c.rel = t.rel
        |GROUP BY t.rel, n_rows, n_keys, max_per_key
        |ORDER BY t.rel""".stripMargin,

    // Three unrolled synchronous rounds (the q57/q94 pattern); votes are
    // integer counts, ties break toward the smaller label — no rounding
    // discipline needed anywhere.
    "q121_label_propagation" ->
      """WITH e0 AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |l0 AS (
        |  SELECT c_custkey * 2 AS id, n_regionkey AS label, 0 AS round
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  WHERE c_custkey % 10 = 0),
        |v1 AS (SELECT e.dst AS id, l.label, count(*) AS c
        |       FROM e JOIN l0 l ON l.id = e.src GROUP BY 1, 2),
        |w1 AS (SELECT id, label FROM (
        |         SELECT id, label,
        |           row_number() OVER (PARTITION BY id ORDER BY c DESC, label) AS rn
        |         FROM v1) WHERE rn = 1),
        |l1 AS (SELECT * FROM l0 UNION ALL
        |       SELECT w.id, w.label, 1 FROM w1 w
        |       LEFT JOIN l0 ON l0.id = w.id WHERE l0.id IS NULL),
        |v2 AS (SELECT e.dst AS id, l.label, count(*) AS c
        |       FROM e JOIN l1 l ON l.id = e.src GROUP BY 1, 2),
        |w2 AS (SELECT id, label FROM (
        |         SELECT id, label,
        |           row_number() OVER (PARTITION BY id ORDER BY c DESC, label) AS rn
        |         FROM v2) WHERE rn = 1),
        |l2 AS (SELECT * FROM l1 UNION ALL
        |       SELECT w.id, w.label, 2 FROM w2 w
        |       LEFT JOIN l1 ON l1.id = w.id WHERE l1.id IS NULL),
        |v3 AS (SELECT e.dst AS id, l.label, count(*) AS c
        |       FROM e JOIN l2 l ON l.id = e.src GROUP BY 1, 2),
        |w3 AS (SELECT id, label FROM (
        |         SELECT id, label,
        |           row_number() OVER (PARTITION BY id ORDER BY c DESC, label) AS rn
        |         FROM v3) WHERE rn = 1),
        |l3 AS (SELECT * FROM l2 UNION ALL
        |       SELECT w.id, w.label, 3 FROM w3 w
        |       LEFT JOIN l2 ON l2.id = w.id WHERE l2.id IS NULL)
        |SELECT CASE WHEN id % 2 = 0 THEN 'c:' || CAST(id // 2 AS VARCHAR)
        |            ELSE 's:' || CAST(id // 2 AS VARCHAR) END AS id,
        |  label, round
        |FROM l3
        |ORDER BY id""".stripMargin,

    // The typed (flatMapGroups) sessionizer implements q45's EXACT
    // semantics — same gap, same (t, event_id) order, same 1-based ids —
    // so its oracle is the same gaps-and-islands SQL.
    "q122_typed_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t FROM events),
        |m AS (
        |  SELECT user_id, event_id, t,
        |    CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |s AS (
        |  SELECT user_id, t,
        |    CAST(sum(new_sess) OVER (
        |      PARTITION BY user_id ORDER BY t, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM m)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(t) AS start_us, max(t) AS end_us,
        |  round((max(t) - min(t)) / 1000000.0, 3) AS duration_sec
        |FROM s
        |GROUP BY 1, 2
        |ORDER BY user_id, session_id""".stripMargin,

    // Add-one bigram LM trained on even doc_ids, scored on odd; <unk>
    // mapping before bigram formation on both splits; per-doc NLL rounds
    // to 6 dp before the rollup AND the threshold compare.
    "q123_perplexity_filter" ->
      """WITH tk AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |trtok AS (
        |  SELECT doc_id, i AS pos, t[i] AS token
        |  FROM tk, unnest(range(1, len(t) + 1)) AS g(i)
        |  WHERE doc_id % 2 = 0),
        |vocab AS (
        |  SELECT token FROM (SELECT token, count(*) AS c FROM trtok GROUP BY 1)
        |  WHERE c >= 5),
        |tru AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN v.token IS NULL THEN '<unk>' ELSE x.token END AS tok
        |  FROM trtok x LEFT JOIN vocab v ON x.token = v.token),
        |trbi AS (
        |  SELECT doc_id, lag(tok) OVER w AS w1, tok AS w2
        |  FROM tru WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |  QUALIFY w1 IS NOT NULL),
        |pc AS (SELECT w1, w2, count(*) AS c12 FROM trbi GROUP BY 1, 2),
        |lt AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM pc GROUP BY 1),
        |vs AS (SELECT count(*) + 1 AS v FROM vocab),
        |tetok AS (
        |  SELECT doc_id, source, i AS pos, t[i] AS token
        |  FROM tk, unnest(range(1, len(t) + 1)) AS g(i)
        |  WHERE doc_id % 2 <> 0),
        |teu AS (
        |  SELECT doc_id, source, pos,
        |    CASE WHEN v.token IS NULL THEN '<unk>' ELSE x.token END AS tok
        |  FROM tetok x LEFT JOIN vocab v ON x.token = v.token),
        |tebi AS (
        |  SELECT doc_id, source, lag(tok) OVER w AS w1, tok AS w2
        |  FROM teu WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |  QUALIFY w1 IS NOT NULL),
        |sc AS (
        |  SELECT b.doc_id, b.source,
        |    ln((coalesce(pc.c12, 0) + 1.0) / (coalesce(lt.c1, 0) + vs.v)) AS lp
        |  FROM tebi b
        |  LEFT JOIN pc ON pc.w1 = b.w1 AND pc.w2 = b.w2
        |  LEFT JOIN lt ON lt.w1 = b.w1
        |  CROSS JOIN vs),
        |pd AS (
        |  SELECT doc_id, source, round(-avg(lp), 6) AS nll
        |  FROM sc GROUP BY 1, 2)
        |SELECT source, count(*) AS n_docs,
        |  round(avg(nll), 6) AS avg_nll,
        |  CAST(sum(CASE WHEN nll > 4.2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_high_ppl
        |FROM pd
        |GROUP BY source
        |ORDER BY source""".stripMargin,

    // One UNION ALL branch per check, CASE sums cast out of HUGEINT;
    // "constraint" quoted (reserved word).
    "q124_constraint_report" ->
      """WITH checks AS (
        |  SELECT 'not_null(o_custkey)' AS con,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violations
        |  FROM orders
        |  UNION ALL
        |  SELECT 'not_null(o_orderdate)',
        |    CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'in_range(o_totalprice)',
        |    CAST(sum(CASE WHEN o_totalprice < 0.0 OR o_totalprice > 450000.0
        |      THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'accepted_values(o_orderstatus)',
        |    CAST(sum(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
        |      THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'unique(o_orderkey)',
        |    coalesce((SELECT CAST(sum(c - 1) AS BIGINT)
        |              FROM (SELECT count(*) AS c FROM orders
        |                    GROUP BY o_orderkey) WHERE c > 1), 0)
        |  UNION ALL
        |  SELECT 'ref(o_custkey->c_custkey)',
        |    (SELECT count(*) FROM orders o
        |     LEFT JOIN customer c ON c.c_custkey = o.o_custkey
        |     WHERE c.c_custkey IS NULL))
        |SELECT con AS "constraint", n_violations,
        |  n_violations = 0 AS pass
        |FROM checks
        |ORDER BY con""".stripMargin,

    // Metrics round to 6 dp BEFORE the delta; TVD rides a full outer join
    // of the category-sized distributions.
    "q125_drift_report" ->
      """WITH o AS (
        |  SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'),
        |n AS (
        |  SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'),
        |so AS (SELECT CAST(count(o_totalprice) AS DOUBLE) AS c,
        |         CAST(round(CAST(CAST(avg(o_totalprice) AS VARCHAR)
        |           AS DECIMAL(30,12)), 6) AS DOUBLE) AS m,
        |         CAST(round(CAST(CAST(stddev_pop(o_totalprice) AS VARCHAR)
        |           AS DECIMAL(30,12)), 6) AS DOUBLE) AS s FROM o),
        |sn AS (SELECT CAST(count(o_totalprice) AS DOUBLE) AS c,
        |         CAST(round(CAST(CAST(avg(o_totalprice) AS VARCHAR)
        |           AS DECIMAL(30,12)), 6) AS DOUBLE) AS m,
        |         CAST(round(CAST(CAST(stddev_pop(o_totalprice) AS VARCHAR)
        |           AS DECIMAL(30,12)), 6) AS DOUBLE) AS s FROM n),
        |num AS (
        |  SELECT 'count(o_totalprice)' AS metric, so.c AS old_value,
        |    sn.c AS new_value FROM so, sn
        |  UNION ALL
        |  SELECT 'mean(o_totalprice)', so.m, sn.m FROM so, sn
        |  UNION ALL
        |  SELECT 'stddev(o_totalprice)', so.s, sn.s FROM so, sn),
        |pos1 AS (SELECT o_orderstatus AS v,
        |    CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM o) AS p
        |  FROM o GROUP BY 1),
        |pns1 AS (SELECT o_orderstatus AS v,
        |    CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM n) AS p
        |  FROM n GROUP BY 1),
        |tvd1 AS (
        |  SELECT 'tvd(o_orderstatus)' AS metric,
        |    CAST(NULL AS DOUBLE) AS old_value, CAST(NULL AS DOUBLE) AS new_value,
        |    CAST(round(CAST(CAST(
        |        sum(abs(coalesce(pos1.p, 0) - coalesce(pns1.p, 0))) / 2
        |      AS VARCHAR) AS DECIMAL(30,12)), 6) AS DOUBLE) AS abs_delta
        |  FROM pos1 FULL OUTER JOIN pns1 USING (v)),
        |pos2 AS (SELECT o_orderpriority AS v,
        |    CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM o) AS p
        |  FROM o GROUP BY 1),
        |pns2 AS (SELECT o_orderpriority AS v,
        |    CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM n) AS p
        |  FROM n GROUP BY 1),
        |tvd2 AS (
        |  SELECT 'tvd(o_orderpriority)' AS metric,
        |    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |    CAST(round(CAST(CAST(
        |        sum(abs(coalesce(pos2.p, 0) - coalesce(pns2.p, 0))) / 2
        |      AS VARCHAR) AS DECIMAL(30,12)), 6) AS DOUBLE)
        |  FROM pos2 FULL OUTER JOIN pns2 USING (v))
        |SELECT metric, old_value, new_value,
        |  CAST(round(CAST(CAST(abs(new_value - old_value) AS VARCHAR)
        |    AS DECIMAL(30,12)), 6) AS DOUBLE) AS abs_delta FROM num
        |UNION ALL SELECT * FROM tvd1
        |UNION ALL SELECT * FROM tvd2
        |ORDER BY metric""".stripMargin,

    // The sign matrix is the same Wang-hash bit both engines compute
    // (xor/shift/multiply with sub-2^31 constants — no BIGINT overflow);
    // squared distances and ratios round to 6 dp before the census.
    "q126_jl_projection" ->
      """WITH s AS (
        |  SELECT i, j,
        |    CASE WHEN xor(h2 >> 16, h2) % 2 = 1 THEN 1.0 ELSE -1.0 END AS sg
        |  FROM (
        |    SELECT i, j,
        |      (xor(h1 >> 16, h1) * 73244475) % 4294967296 AS h2
        |    FROM (
        |      SELECT i, j,
        |        (xor((i * 16 + j) >> 16, i * 16 + j) * 73244475)
        |          % 4294967296 AS h1
        |      FROM unnest(range(0, 64)) AS gi(i),
        |           unnest(range(0, 16)) AS gj(j)) h1t) h2t),
        |e AS (
        |  SELECT vec_id, i, CAST(embedding[i + 1] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(0, len(embedding))) AS gi(i)
        |  WHERE vec_id < 40),
        |proj AS (
        |  SELECT e.vec_id, s.j, sum(e.v * s.sg) / sqrt(16.0) AS y
        |  FROM e JOIN s ON s.i = e.i
        |  GROUP BY 1, 2),
        |dp AS (
        |  SELECT a.vec_id AS ia, b.vec_id AS ib,
        |    round(sum((a.y - b.y) * (a.y - b.y)), 6) AS dp
        |  FROM proj a JOIN proj b ON a.j = b.j AND a.vec_id < b.vec_id
        |  GROUP BY 1, 2),
        |dx AS (
        |  SELECT a.vec_id AS ia, b.vec_id AS ib,
        |    round(sum((a.v - b.v) * (a.v - b.v)), 6) AS dx
        |  FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT round(dp.dp / dx.dx, 6) AS ratio
        |  FROM dp JOIN dx ON dp.ia = dx.ia AND dp.ib = dx.ib
        |  WHERE dx.dx > 0)
        |SELECT count(*) AS n_pairs, round(avg(ratio), 6) AS avg_ratio,
        |  min(ratio) AS min_ratio, max(ratio) AS max_ratio,
        |  CAST(sum(CASE WHEN ratio >= 0.5 AND ratio <= 1.5 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_in_band
        |FROM r""".stripMargin,

    // The MERGE contract as one FULL OUTER join; 'kept' payload comes
    // from the base side, everything else from the change side.
    "q127_merge_upsert" ->
      """WITH base AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
        |tch AS (SELECT o_orderkey, o_totalprice FROM orders
        |        WHERE o_orderkey % 5 = 0),
        |chg AS (
        |  SELECT o_orderkey AS k, round(o_totalprice + 100.0, 2) AS p,
        |    CASE WHEN o_orderkey % 3 = 0 THEN 'delete' ELSE 'upsert' END
        |      AS action
        |  FROM tch
        |  UNION ALL
        |  SELECT o_orderkey + 100000000 AS k, o_totalprice,
        |    'upsert'
        |  FROM tch),
        |m AS (
        |  SELECT b.k AS bk, b.p AS bp, c.k AS ck, c.p AS cp, c.action,
        |    CASE WHEN b.k IS NOT NULL AND c.action IS NULL THEN 'kept'
        |         WHEN b.k IS NOT NULL AND c.action = 'upsert' THEN 'updated'
        |         WHEN b.k IS NULL AND c.action = 'upsert' THEN 'inserted'
        |         ELSE 'deleted' END AS op
        |  FROM base b FULL OUTER JOIN chg c ON b.k = c.k)
        |SELECT coalesce(bk, ck) AS o_orderkey,
        |  CASE WHEN op = 'kept' THEN bp ELSE cp END AS o_totalprice,
        |  op
        |FROM m
        |WHERE op <> 'deleted'
        |ORDER BY o_orderkey""".stripMargin,

    // Same left-to-right arithmetic ((N·c12)/(c1·c2)) and the same
    // (pmi desc, bigram) total order for the top-k cut.
    "q128_collocations" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |uni AS (
        |  SELECT u AS w, count(*) AS cw
        |  FROM (SELECT unnest(t) AS u FROM tk) GROUP BY 1),
        |tot AS (SELECT CAST(sum(cw) AS DOUBLE) AS n FROM uni),
        |bi AS (
        |  SELECT b, count(*) AS c12
        |  FROM (SELECT array_to_string(list_slice(t, i + 1, i + 2), ' ') AS b
        |        FROM tk, unnest(range(0, len(t) - 1)) AS g(i)
        |        WHERE len(t) >= 2)
        |  GROUP BY 1
        |  HAVING count(*) >= 20)
        |SELECT b AS bigram, c12,
        |  round(ln(tot.n * c12 / (u1.cw * u2.cw)), 6) AS pmi
        |FROM bi
        |JOIN uni u1 ON u1.w = string_split(b, ' ')[1]
        |JOIN uni u2 ON u2.w = string_split(b, ' ')[2]
        |CROSS JOIN tot
        |ORDER BY pmi DESC, bigram
        |LIMIT 50""".stripMargin,

    // The quality-pass rate reuses q112's exact rule battery (same
    // thresholds, same round(·,4) comparisons).
    "q129_corpus_card" ->
      """WITH tk AS (
        |  SELECT doc_id, source, lang,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |basic AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |    CAST(sum(len(t)) AS DOUBLE) AS n_tokens,
        |    CAST(count(DISTINCT source) AS DOUBLE) AS n_sources,
        |    CAST(count(DISTINCT lang) AS DOUBLE) AS n_langs
        |  FROM tk),
        |dt AS (
        |  SELECT CAST(count(DISTINCT text) AS DOUBLE) AS n_distinct
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, u AS token, count(*) AS c
        |  FROM (SELECT doc_id, unnest(t) AS u FROM tk)
        |  GROUP BY 1, 2),
        |md AS (SELECT doc_id, max(c) AS mx FROM tf GROUP BY doc_id),
        |-- LEFT join: zero-token docs still count in the pass-rate base
        |sig AS (
        |  SELECT tk.doc_id,
        |    len(t) AS n,
        |    round(CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0)
        |      AS DOUBLE) / greatest(len(t), 1), 4) AS awl,
        |    round(CAST(len(list_distinct(t)) AS DOUBLE)
        |      / greatest(len(t), 1), 4) AS dr,
        |    round(CAST(coalesce(md.mx, 0) AS DOUBLE)
        |      / greatest(len(t), 1), 4) AS ttr,
        |    len(list_filter(t, x -> x IN
        |      ('the','a','and','of','el','la','los','y','le','les','et','une',
        |       'der','die','und','das'))) AS sh
        |  FROM tk LEFT JOIN md ON tk.doc_id = md.doc_id),
        |p AS (
        |  SELECT CAST(sum(CASE WHEN NOT (n < 20 OR n > 95)
        |      AND NOT (awl < 3.0 OR awl > 8.0) AND dr >= 0.4
        |      AND ttr <= 0.2 AND sh >= 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    AS n_pass
        |  FROM sig)
        |SELECT stat, value FROM (
        |  SELECT 'n_docs' AS stat, n_docs AS value FROM basic
        |  UNION ALL SELECT 'n_tokens', n_tokens FROM basic
        |  UNION ALL SELECT 'n_sources', n_sources FROM basic
        |  UNION ALL SELECT 'n_langs', n_langs FROM basic
        |  UNION ALL SELECT 'mean_doc_tokens', round(n_tokens / n_docs, 6)
        |    FROM basic
        |  UNION ALL SELECT 'exact_dup_rate',
        |    round(1.0 - dt.n_distinct / basic.n_docs, 6) FROM basic, dt
        |  UNION ALL SELECT 'quality_pass_rate',
        |    round(p.n_pass / basic.n_docs, 6) FROM basic, p)
        |ORDER BY stat""".stripMargin,

    // q122's session cut, then the TTL islands pass: ordinal restarts
    // where the inter-session gap exceeds gap+ttl = 30 min + 6 h =
    // 23_400_000_000 us (Sessionize.TombstoneTtlUs).
    "q135_ttl_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t FROM events),
        |m AS (
        |  SELECT user_id, event_id, t,
        |    CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |s AS (
        |  SELECT user_id, t,
        |    CAST(sum(new_sess) OVER (
        |      PARTITION BY user_id ORDER BY t, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM m),
        |sess AS (
        |  SELECT user_id, sid, count(*) AS n_events,
        |    min(t) AS start_us, max(t) AS end_us,
        |    round((max(t) - min(t)) / 1000000.0, 3) AS duration_sec
        |  FROM s GROUP BY 1, 2),
        |r AS (
        |  SELECT user_id, n_events, start_us, end_us, duration_sec,
        |    coalesce(start_us - lag(end_us) OVER
        |        (PARTITION BY user_id ORDER BY start_us, end_us)
        |      > 23400000000, FALSE) AS restarted
        |  FROM sess),
        |ep AS (
        |  SELECT *, sum(CASE WHEN restarted THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY user_id ORDER BY start_us, end_us
        |      ROWS UNBOUNDED PRECEDING) AS epoch
        |  FROM r)
        |SELECT user_id,
        |  CAST(row_number() OVER (
        |    PARTITION BY user_id, epoch
        |    ORDER BY start_us, end_us) AS BIGINT) AS session_id,
        |  restarted, n_events, start_us, end_us, duration_sec
        |FROM ep
        |ORDER BY user_id, start_us""".stripMargin,

    // Anchor-hop dedup: the kept set is defined recursively — each key's
    // first event, then repeatedly the EARLIEST event more than 48 h
    // after the last kept one. The NOT EXISTS picks that earliest
    // candidate without aggregating in the recursive term (DuckDB
    // restriction); (ts, event_id) ordering makes the hop total.
    "q136_dedup_within" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events),
        |kept AS (
        |  SELECT user_id, event_type, ts, event_id FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT n.user_id, n.event_type, n.ts, n.event_id
        |  FROM kept k JOIN e n
        |    ON n.user_id = k.user_id AND n.event_type = k.event_type
        |   AND n.ts > k.ts + INTERVAL 48 HOUR
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM e m
        |    WHERE m.user_id = k.user_id AND m.event_type = k.event_type
        |      AND m.ts > k.ts + INTERVAL 48 HOUR
        |      AND (m.ts < n.ts OR (m.ts = n.ts AND m.event_id < n.event_id))))
        |SELECT user_id, event_type, event_id, ts FROM kept
        |ORDER BY user_id, event_type, ts, event_id""".stripMargin,

    // The Morton magic-mask spread replayed in SQL: same four
    // mask-and-shift steps as Layout.part1by1, same masks.
    "q137_zorder_slabs" ->
      """WITH g AS (
        |  SELECT l_partkey % 65536 AS gx, l_suppkey % 65536 AS gy
        |  FROM lineitem),
        |s1 AS (
        |  SELECT gx, gy, (gx | (gx << 8)) & 16711935 AS ax,
        |                 (gy | (gy << 8)) & 16711935 AS ay FROM g),
        |s2 AS (
        |  SELECT gx, gy, (ax | (ax << 4)) & 252645135 AS bx,
        |                 (ay | (ay << 4)) & 252645135 AS b_y FROM s1),
        |s3 AS (
        |  SELECT gx, gy, (bx | (bx << 2)) & 858993459 AS cx,
        |                 (b_y | (b_y << 2)) & 858993459 AS cy FROM s2),
        |s4 AS (
        |  SELECT gx, gy, (cx | (cx << 1)) & 1431655765 AS dx,
        |                 (cy | (cy << 1)) & 1431655765 AS dy FROM s3)
        |SELECT (dx | (dy << 1)) >> 12 AS slab,
        |  CAST(count(*) AS BIGINT) AS n,
        |  min(gx) AS gx_min, max(gx) AS gx_max,
        |  min(gy) AS gy_min, max(gy) AS gy_max
        |FROM s4 GROUP BY 1 ORDER BY slab""".stripMargin,

    // Integer byte sizes (quantity is integral in this data; floor makes
    // the contract explicit either way) so the running totals and bin
    // boundaries are exact in both engines.
    "q138_compaction_plan" ->
      """WITH f AS (
        |  SELECT 'part-' || lpad(CAST(l_orderkey % 400 AS VARCHAR), 4, '0')
        |      AS file,
        |    sum(CAST(floor(l_quantity) AS BIGINT) * 997 + l_linenumber)
        |      AS bytes
        |  FROM lineitem GROUP BY 1),
        |p AS (
        |  SELECT file, bytes, coalesce(sum(bytes) OVER (ORDER BY file
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
        |  FROM f)
        |SELECT CAST(floor(bef / 50000000.0) AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(bytes) AS BIGINT) AS bin_bytes,
        |  min(file) AS first_file, max(file) AS last_file
        |FROM p GROUP BY 1 ORDER BY bin""".stripMargin,

    "q139_schema_align" ->
      """SELECT c_custkey, c_mktsegment, CAST(NULL AS VARCHAR) AS c_phone,
        |  CAST(c_nationkey AS BIGINT) AS c_nationkey
        |FROM customer ORDER BY c_custkey""".stripMargin,

    // json_valid decides the split exactly where Spark's PERMISSIVE parse
    // does: the corruption rule truncates the closing `"}`, leaving an
    // unterminated string no JSON parser accepts.
    "q140_quarantine" ->
      """WITH l AS (
        |  SELECT CASE WHEN c_custkey % 7 = 3
        |              THEN substr(line, 1, length(line) - 2)
        |              ELSE line END AS line
        |  FROM (SELECT c_custkey,
        |          '{"k":' || c_custkey || ',"seg":"' || c_mktsegment || '"}'
        |            AS line
        |        FROM customer)),
        |p AS (SELECT line, json_valid(line) AS ok FROM l)
        |SELECT json_extract_string(line, '$.seg') AS seg,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(json_extract(line, '$.k') AS BIGINT)) AS BIGINT)
        |    AS sum_k
        |FROM p WHERE ok GROUP BY 1
        |UNION ALL
        |SELECT '__quarantined__' AS seg, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(length(line)) AS BIGINT) AS sum_k
        |FROM p WHERE NOT ok
        |ORDER BY seg""".stripMargin,

    // The sketch build AND probe replayed relationally: same affine
    // hashes over the Mersenne prime, same d x w cell grid, min-over-rows
    // point query. Pure integer arithmetic end-to-end.
    // x = floor-mod(key, P) mirrors CountMin.bucket's key reduction — the
    // affine product then never overflows for any 64-bit key in either
    // engine.
    "q141_countmin" ->
      """WITH counts AS (
        |  SELECT o_custkey AS key,
        |    (o_custkey % 2147483647 + 2147483647) % 2147483647 AS x,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1, 2),
        |cells AS (
        |  SELECT 0 AS r, ((1103515245 * x + 12345) % 2147483647) % 1024
        |    AS bucket, n FROM counts
        |  UNION ALL SELECT 1, ((214013 * x + 2531011) % 2147483647) % 1024,
        |    n FROM counts
        |  UNION ALL SELECT 2, ((69069 * x + 362437) % 2147483647) % 1024,
        |    n FROM counts
        |  UNION ALL SELECT 3, ((134775813 * x + 1) % 2147483647) % 1024,
        |    n FROM counts),
        |matrix AS (SELECT r, bucket, sum(n) AS c FROM cells GROUP BY 1, 2),
        |tp AS (SELECT key, x, n FROM counts ORDER BY n DESC, key LIMIT 20),
        |probes AS (
        |  SELECT key, n, 0 AS r,
        |    ((1103515245 * x + 12345) % 2147483647) % 1024 AS bucket FROM tp
        |  UNION ALL SELECT key, n, 1,
        |    ((214013 * x + 2531011) % 2147483647) % 1024 FROM tp
        |  UNION ALL SELECT key, n, 2,
        |    ((69069 * x + 362437) % 2147483647) % 1024 FROM tp
        |  UNION ALL SELECT key, n, 3,
        |    ((134775813 * x + 1) % 2147483647) % 1024 FROM tp)
        |SELECT p.key AS o_custkey, CAST(max(p.n) AS BIGINT) AS exact_n,
        |  CAST(min(m.c) AS BIGINT) AS cms_est
        |FROM probes p JOIN matrix m ON m.r = p.r AND m.bucket = p.bucket
        |GROUP BY 1 ORDER BY exact_n DESC, o_custkey""".stripMargin,

    // q142: the KMV/theta sketch replayed relationally — shingle rolling
    // hash → quadratic mixer (VectorHash constants interpolated), DISTINCT
    // on the MIXED hash (the mixer is not injective, so dedup placement
    // matters), per-source k smallest via row_number, θ = k-th minimum
    // (P in exact mode), strict-θ samples, then pairwise ∩/∪ counts and
    // the |S|·P/θ estimates in BIGINT×BIGINT / DOUBLE arithmetic both
    // engines evaluate identically. Exact common is the q117 mirror.
    "q142_theta_overlap" -> (thetaEstCtes + """,
        |shd AS (SELECT DISTINCT source, s FROM shg),
        |ex AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    count(*) AS n_common
        |  FROM shd a JOIN shd b ON a.s = b.s AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT e.source_a, e.source_b, e.est_common, e.est_union,
        |  e.est_jaccard,
        |  coalesce(ex.n_common, CAST(0 AS BIGINT)) AS exact_common
        |FROM est e
        |LEFT JOIN ex ON ex.source_a = e.source_a AND ex.source_b = e.source_b
        |ORDER BY e.source_a, e.source_b""".stripMargin),

    // q153: q142's sketch-only production mode — identical estimate CTEs,
    // no q117-shape exact twin anywhere in the query (the scale contract
    // PlanSpec pins on the Spark side).
    "q153_theta_sketch_only" -> (thetaEstCtes + """
        |SELECT source_a, source_b, est_common, est_union, est_jaccard
        |FROM est ORDER BY source_a, source_b""".stripMargin),

    // q154: SCD2 history replayed — the stacked-snapshot construction
    // (rotating %11 deletions, one-shot %13 price changes), change/gap
    // detection via lag, run segmentation via running sum, run collapse.
    // IS DISTINCT FROM mirrors Spark's null-safe <=> on the payload.
    "q154_scd2_history" ->
      """WITH v AS (SELECT CAST(r AS BIGINT) AS version FROM range(1, 5) t(r)),
        |snaps AS (
        |  SELECT v.version, o.o_orderkey,
        |    CASE WHEN o.o_orderkey % 13 BETWEEN 2 AND 4
        |           AND o.o_orderkey % 13 <= v.version
        |         THEN round(o.o_totalprice + 100.0, 2)
        |         ELSE o.o_totalprice END AS o_totalprice,
        |    o.o_orderstatus
        |  FROM orders o CROSS JOIN v
        |  WHERE v.version = 1 OR o.o_orderkey % 11 <> v.version),
        |m AS (
        |  SELECT snaps.*, lag(version) OVER w AS prev_v,
        |    lag(o_totalprice) OVER w AS prev_p1,
        |    lag(o_orderstatus) OVER w AS prev_p2
        |  FROM snaps WINDOW w AS (PARTITION BY o_orderkey ORDER BY version)),
        |mk AS (
        |  SELECT m.*,
        |    CASE WHEN prev_v IS NULL OR prev_v <> version - 1
        |           OR prev_p1 IS DISTINCT FROM o_totalprice
        |           OR prev_p2 IS DISTINCT FROM o_orderstatus
        |         THEN 1 ELSE 0 END AS is_start
        |  FROM m),
        |sg AS (
        |  SELECT mk.*,
        |    sum(is_start) OVER (PARTITION BY o_orderkey ORDER BY version
        |      ROWS UNBOUNDED PRECEDING) AS seg
        |  FROM mk),
        |h AS (
        |  SELECT o_orderkey, seg, o_totalprice, o_orderstatus,
        |    min(version) AS valid_from, max(version) AS last_v
        |  FROM sg GROUP BY 1, 2, 3, 4)
        |SELECT o_orderkey, o_totalprice, o_orderstatus, valid_from,
        |  CASE WHEN last_v = 4 THEN NULL ELSE last_v + 1 END AS valid_to,
        |  last_v = 4 AS is_current
        |FROM h ORDER BY o_orderkey, valid_from""".stripMargin,

    // q155: the round-trip law AS the oracle — the engine reconstructs
    // version 3 from the SCD2 history; the oracle builds the version-3
    // snapshot DIRECTLY (deletion filter + price rule), never touching
    // the history algebra. Agreement proves reconstruct(v) ≡ snapshot(v)
    // on an independent derivation, not a mirrored one.
    "q155_scd2_asof" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 13 BETWEEN 2 AND 3
        |       THEN round(o_totalprice + 100.0, 2)
        |       ELSE o_totalprice END AS o_totalprice,
        |  o_orderstatus
        |FROM orders
        |WHERE o_orderkey % 11 <> 3
        |ORDER BY o_orderkey""".stripMargin,

    // q157: fact-to-SCD2 enrichment — the oracle never touches the
    // history algebra: it joins lineitem straight to orders and applies
    // the deletion (%11 = tv, tv >= 2) and price (%13 in [2,4], <= tv)
    // rules AT the fact's transaction version. Agreement proves the
    // enrich join resolves validity intervals correctly.
    "q157_scd2_enrich" ->
      """SELECT l.l_orderkey AS o_orderkey, l.l_linenumber,
        |  CAST(l.l_linenumber % 4 + 1 AS BIGINT) AS tv,
        |  CASE WHEN l.l_linenumber % 4 + 1 >= 2
        |         AND o.o_orderkey % 11 = l.l_linenumber % 4 + 1
        |       THEN NULL
        |       WHEN o.o_orderkey % 13 BETWEEN 2 AND 4
        |         AND o.o_orderkey % 13 <= l.l_linenumber % 4 + 1
        |       THEN round(o.o_totalprice + 100.0, 2)
        |       ELSE o.o_totalprice END AS o_totalprice,
        |  CASE WHEN l.l_linenumber % 4 + 1 >= 2
        |         AND o.o_orderkey % 11 = l.l_linenumber % 4 + 1
        |       THEN NULL ELSE o.o_orderstatus END AS o_orderstatus
        |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |ORDER BY o_orderkey, l.l_linenumber""".stripMargin,

    // q156: binned PSI — fixed [0,200)/20 equal-width bins with
    // clamp-to-edge, add-one smoothing over the FULL bin grid, per-bin
    // (p−q)·ln(p/q) rounded to 6 (the libm-ulp discipline).
    "q156_psi_drift" ->
      """WITH e AS (SELECT event_id, value FROM events),
        |mid AS (SELECT max(event_id) / 2 AS m FROM e),
        |grid AS (SELECT CAST(r AS INTEGER) AS bin FROM range(0, 20) t(r)),
        |b AS (
        |  SELECT least(19, greatest(0, CAST(floor((value - 0.0) / 10.0)
        |    AS INTEGER))) AS bin, count(*) AS c_base
        |  FROM e, mid WHERE event_id <= m GROUP BY 1),
        |c AS (
        |  SELECT least(19, greatest(0, CAST(floor((value - 0.0) / 10.0)
        |    AS INTEGER))) AS bin, count(*) AS c_cur
        |  FROM e, mid WHERE event_id > m GROUP BY 1),
        |j AS (
        |  SELECT g.bin, coalesce(b.c_base, 0) AS n_base,
        |    coalesce(c.c_cur, 0) AS n_cur
        |  FROM grid g LEFT JOIN b ON b.bin = g.bin
        |  LEFT JOIN c ON c.bin = g.bin),
        |tot AS (SELECT CAST(sum(n_base) AS BIGINT) AS t_base,
        |  CAST(sum(n_cur) AS BIGINT) AS t_cur FROM j)
        |SELECT j.bin, round(0.0 + j.bin * 10.0, 6) AS bin_lo,
        |  CAST(j.n_base AS BIGINT) AS n_base, CAST(j.n_cur AS BIGINT) AS n_cur,
        |  round(((j.n_base + 1) / CAST(t.t_base + 20 AS DOUBLE)
        |       - (j.n_cur + 1) / CAST(t.t_cur + 20 AS DOUBLE))
        |    * ln(((j.n_base + 1) / CAST(t.t_base + 20 AS DOUBLE))
        |        / ((j.n_cur + 1) / CAST(t.t_cur + 20 AS DOUBLE))), 6)
        |      AS psi_contrib
        |FROM j, tot t ORDER BY j.bin""".stripMargin,


    // q143: the dyadic CM quantile sketch replayed end-to-end — cents
    // saturation, per-level dyadic nodes, the q141 affine cells, then
    // all 20 descent steps unrolled (left-child CM min with the sparse
    // form's implicit-zero cells, integer branch arithmetic). Constants
    // interpolate from CountMin/CmQuantiles so the engines cannot drift;
    // ceil(p·n) evaluates in DOUBLE identically on both sides.
    "q143_cm_quantiles" -> {
      val P = graft.analytics.CountMin.P
      val W = graft.analytics.CountMin.W
      val L = graft.analytics.CmQuantiles.Levels
      val dom = graft.analytics.CmQuantiles.Domain
      val hsValues = graft.analytics.CountMin.Hashes
        .map { case (i, a, b) => s"($i, $a, $b)" }.mkString(", ")
      def step(l: Int): String =
        s"""f$l AS (
        |  SELECT grp, p, n, target,
        |    CASE WHEN rank_below + est_left >= target
        |      THEN nd * 2 ELSE nd * 2 + 1 END AS nd,
        |    CASE WHEN rank_below + est_left >= target
        |      THEN rank_below ELSE rank_below + est_left END AS rank_below
        |  FROM (
        |    SELECT f.grp, f.p, f.n, f.target, f.nd, f.rank_below,
        |      min(coalesce(c.cnt, CAST(0 AS BIGINT))) AS est_left
        |    FROM f${l + 1} f
        |    CROSS JOIN hs
        |    LEFT JOIN cells c ON c.grp = f.grp AND c.level = $l
        |      AND c.r = hs.r
        |      AND c.bucket =
        |        ((hs.a * (((f.nd * 2) % $P + $P) % $P) + hs.b) % $P) % $W
        |    GROUP BY 1, 2, 3, 4, 5, 6) s)"""
      val steps = (L - 1 to 0 by -1).map(step).mkString(",\n")
      s"""WITH ev AS (
        |  SELECT event_type AS grp,
        |    least(greatest(CAST(round(value * 100) AS BIGINT), 0),
        |      ${dom - 1}) AS v
        |  FROM events WHERE value IS NOT NULL),
        |hs(r, a, b) AS (VALUES $hsValues),
        |nodes AS (
        |  SELECT grp, g.level, v >> g.level AS nd
        |  FROM ev, unnest(range(0, $L)) AS g(level)),
        |cells AS (
        |  SELECT n.grp, n.level, hs.r,
        |    ((hs.a * ((n.nd % $P + $P) % $P) + hs.b) % $P) % $W AS bucket,
        |    count(*) AS cnt
        |  FROM nodes n CROSS JOIN hs
        |  GROUP BY 1, 2, 3, 4),
        |np AS (SELECT grp, count(*) AS n FROM ev GROUP BY 1),
        |f$L AS (
        |  SELECT grp, CAST(ps.p AS DOUBLE) AS p, n,
        |    CAST(ceil(CAST(ps.p AS DOUBLE) * n) AS BIGINT) AS target,
        |    CAST(0 AS BIGINT) AS nd, CAST(0 AS BIGINT) AS rank_below
        |  FROM np, (VALUES (0.5), (0.9), (0.99)) ps(p)),
        |$steps
        |SELECT grp AS event_type, p, n, target AS target_rank,
        |  nd AS est_cents, round(nd / 100.0, 2) AS est_value
        |FROM f0 ORDER BY event_type, p""".stripMargin
    },

    // q144: the skipping index replayed — range-binned file ids (integer
    // div on both engines; a double divide would round differently under
    // Spark's truncating vs DuckDB's rounding cast), per-file min/max,
    // the k=3 affine bloom bits into the data-sized m-bit space, and
    // both probe legs. Constants interpolate from SkippingIndex/CountMin.
    "q144_file_skipping" -> {
      val P = graft.analytics.CountMin.P
      val nf = graft.operators.SkippingIndex.NFiles
      val bpk = graft.operators.SkippingIndex.BitsPerKey
      val hsValues = graft.analytics.CountMin.Hashes
        .take(graft.operators.SkippingIndex.BloomK)
        .map { case (i, a, b) => s"($i, $a, $b)" }.mkString(", ")
      s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
        |sp AS (
        |  SELECT CAST(ceil((max(l_orderkey) + 1) / $nf.0) AS BIGINT)
        |    AS span FROM li),
        |fk AS (
        |  SELECT DISTINCT l_orderkey // sp.span AS file, l_partkey AS key
        |  FROM li, sp),
        |st AS (SELECT file, min(key) AS mn, max(key) AS mx
        |  FROM fk GROUP BY 1),
        |mm AS (
        |  SELECT $bpk * ((count(*) + ${nf - 1}) // $nf) AS m
        |  FROM fk),
        |hs(j, a, b) AS (VALUES $hsValues),
        |bb AS (
        |  SELECT DISTINCT file, j,
        |    ((a * ((key % $P + $P) % $P) + b) % $P) % mm.m AS bit
        |  FROM fk, hs, mm),
        |pr AS (
        |  SELECT key FROM (SELECT DISTINCT key FROM fk ORDER BY key LIMIT 10)
        |  UNION ALL
        |  SELECT mxk + i FROM (SELECT max(key) AS mxk FROM fk),
        |    unnest(range(1, 4)) g(i)),
        |nf AS (SELECT count(*) AS n_files FROM st),
        |mp AS (
        |  SELECT pr.key, count(*) AS minmax_pass
        |  FROM pr JOIN st ON pr.key >= st.mn AND pr.key <= st.mx
        |  GROUP BY 1),
        |pb AS (
        |  SELECT pr.key, hs.j,
        |    ((hs.a * ((pr.key % $P + $P) % $P) + hs.b) % $P) % mm.m AS bit
        |  FROM pr, hs, mm),
        |bp AS (
        |  SELECT key, count(*) AS bloom_pass FROM (
        |    SELECT pb.key, bb.file, count(*) AS hits
        |    FROM pb JOIN bb ON bb.j = pb.j AND bb.bit = pb.bit
        |    GROUP BY 1, 2) s
        |  WHERE hits = ${graft.operators.SkippingIndex.BloomK}
        |  GROUP BY 1),
        |tr AS (
        |  SELECT pr.key, count(*) AS true_files
        |  FROM pr JOIN fk ON fk.key = pr.key GROUP BY 1),
        |mx AS (SELECT max(key) AS mxk FROM fk)
        |SELECT pr.key AS probe_key, pr.key <= mx.mxk AS present,
        |  nf.n_files,
        |  coalesce(mp.minmax_pass, CAST(0 AS BIGINT)) AS minmax_pass,
        |  coalesce(bp.bloom_pass, CAST(0 AS BIGINT)) AS bloom_pass,
        |  coalesce(tr.true_files, CAST(0 AS BIGINT)) AS true_files
        |FROM pr
        |CROSS JOIN mx CROSS JOIN nf
        |LEFT JOIN mp ON mp.key = pr.key
        |LEFT JOIN bp ON bp.key = pr.key
        |LEFT JOIN tr ON tr.key = pr.key
        |ORDER BY probe_key""".stripMargin
    },

    // q145: Adamic–Adar over the q69 projection (cp/capped/edges CTEs
    // identical to the q69 oracle). True degrees from the full
    // adjacency, hub cap on the middle vertex, canonical wedge pairs,
    // NOT-EXISTS edge screen, 1/ln weights rounded to 6 before ranking.
    "q145_link_prediction" ->
      """WITH cp AS (
        |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |capped AS (
        |  SELECT c, p FROM (
        |    SELECT c, p, count(*) OVER (PARTITION BY p) AS df FROM cp)
        |  WHERE df <= 18),
        |edges AS (
        |  SELECT DISTINCT x.c AS u, y.c AS v
        |  FROM capped x JOIN capped y ON x.p = y.p AND x.c < y.c),
        |und AS (
        |  SELECT u AS z, v AS n FROM edges
        |  UNION ALL SELECT v, u FROM edges),
        |deg AS (SELECT z, count(*) AS d FROM und GROUP BY 1),
        |adj AS (
        |  SELECT und.z, und.n, deg.d FROM und JOIN deg USING (z)
        |  WHERE deg.d <= 40),
        |wedges AS (
        |  SELECT a.n AS u, b.n AS v, a.d AS dz
        |  FROM adj a JOIN adj b ON a.z = b.z AND a.n < b.n),
        |open_w AS (
        |  SELECT w.u, w.v, w.dz FROM wedges w
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM edges e WHERE e.u = w.u AND e.v = w.v))
        |SELECT u, v, count(*) AS common_neighbors,
        |  round(sum(1.0 / ln(dz)), 6) AS aa_score
        |FROM open_w
        |GROUP BY u, v
        |ORDER BY aa_score DESC, u, v
        |LIMIT 20""".stripMargin,

    // q146: Bellman–Ford replayed as exactly ROUNDS unrolled relax
    // steps (the q121/q57 fixed-iteration pattern). Weights and every
    // accumulation round to 6, so each path length is the same ordered
    // fold in both engines and min-plus picks identical envelopes.
    "q146_weighted_paths" -> {
      val rounds = graft.graph.WeightedPaths.Rounds
      def relax(k: Int): String =
        s"""d$k AS (
        |  SELECT seed, id, min(dist) AS dist FROM (
        |    SELECT seed, id, dist FROM d${k - 1}
        |    UNION ALL
        |    SELECT d.seed, e.dst AS id, round(d.dist + e.w, 6) AS dist
        |    FROM d${k - 1} d JOIN und e ON e.src = d.id) s
        |  GROUP BY 1, 2)"""
      val steps = (1 to rounds).map(relax).mkString(",\n")
      s"""WITH cp AS (
        |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |capped AS (
        |  SELECT c, p FROM (
        |    SELECT c, p, count(*) OVER (PARTITION BY p) AS df FROM cp)
        |  WHERE df <= 18),
        |ew AS (
        |  SELECT x.c AS u, y.c AS v, round(1.0 / count(*), 6) AS w
        |  FROM capped x JOIN capped y ON x.p = y.p AND x.c < y.c
        |  GROUP BY 1, 2),
        |und AS (
        |  SELECT u AS src, v AS dst, w FROM ew
        |  UNION ALL SELECT v, u, w FROM ew),
        |sd AS (
        |  SELECT id FROM (
        |    SELECT src AS id FROM und UNION SELECT dst FROM und)
        |  ORDER BY id LIMIT 3),
        |d0 AS (
        |  SELECT id AS seed, id, CAST(0.0 AS DOUBLE) AS dist FROM sd),
        |$steps
        |SELECT seed, id AS cust_id, dist
        |FROM d$rounds ORDER BY seed, cust_id""".stripMargin
    },

    // q147: q59's join LEFT OUTER — unconverted impressions surface with
    // a NULL click side. Null click ids sort FIRST by explicit direction
    // (Spark defaults nulls-first ascending; DuckDB defaults nulls-last).
    "q147_attribution_outer" ->
      """SELECT i.user_id, i.event_id AS imp_id, i.ts AS imp_ts,
        |       c.event_id AS click_id, c.ts AS click_ts
        |FROM (SELECT * FROM events WHERE event_type = 'view') i
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON c.user_id = i.user_id
        | AND c.ts >= i.ts
        | AND c.ts <= i.ts + INTERVAL 1 HOUR
        |ORDER BY imp_id, click_id NULLS FIRST""".stripMargin,

    // q148: the IVF k-NN classifier replayed — seed-hash codebook over
    // the EVEN train ids, raw-cosine list/probe argmaxes (the q37
    // mirrors), rounded-cosine top-5 with the (c desc, neighbor asc)
    // pin, vote argmax (count desc, label asc), confusion matrix.
    "q148_knn_classify" -> {
      import graft.functions.VectorHash._
      def cos(dv: String, nrm: String, cdv: String, cnrm: String): String =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
          s"list_transform(range(1, len($dv) + 1), i -> $dv[i] * $cdv[i])), " +
          s"(s, x) -> s + x) / ($nrm * $cnrm)"
      s"""WITH e AS (
        |  SELECT vec_id, embedding AS v, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, label, dv,
        |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(dv, x -> x * x)), (s, x) -> s + x)) AS nrm
        |  FROM e),
        |tr AS (SELECT * FROM n WHERE vec_id % 2 = 0),
        |te AS (SELECT * FROM n WHERE vec_id % 2 = 1),
        |sh2 AS (
        |  SELECT vec_id,
        |    (($PlaneA2 * ((m1 * m1) % $PlaneP) + m1) % $PlaneP) AS h
        |  FROM (
        |    SELECT vec_id,
        |      (($PlaneA1 * (vec_id % $PlaneP) + $PlaneB1) % $PlaneP) AS m1
        |    FROM tr) s),
        |nl AS (
        |  SELECT greatest(16, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS nlist
        |  FROM tr),
        |c0 AS (
        |  SELECT CAST(row_number() OVER (ORDER BY sh2.h, sh2.vec_id) - 1
        |      AS BIGINT) AS cid,
        |    e.v AS c
        |  FROM sh2 JOIN e ON e.vec_id = sh2.vec_id
        |  QUALIFY row_number() OVER (ORDER BY sh2.h, sh2.vec_id)
        |    <= (SELECT nlist FROM nl)),
        |c0n AS (
        |  SELECT cid, list_transform(c, x -> CAST(x AS DOUBLE)) AS cdv,
        |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(c, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
        |      (s, x) -> s + x)) AS cnrm
        |  FROM c0),
        |lists AS (
        |  SELECT vec_id, label, cid FROM (
        |    SELECT t.vec_id, t.label, c.cid,
        |      row_number() OVER (PARTITION BY t.vec_id ORDER BY
        |        (${cos("t.dv", "t.nrm", "c.cdv", "c.cnrm")})
        |        DESC NULLS LAST, c.cid) AS rn
        |    FROM tr t, c0n c) s
        |  WHERE rn = 1),
        |pr AS (
        |  SELECT vec_id AS query_id, cid FROM (
        |    SELECT t.vec_id, c.cid,
        |      row_number() OVER (PARTITION BY t.vec_id ORDER BY
        |        (${cos("t.dv", "t.nrm", "c.cdv", "c.cnrm")})
        |        DESC NULLS LAST, c.cid) AS rn
        |    FROM te t, c0n c) s
        |  WHERE rn <= 4),
        |cand AS (
        |  SELECT pr.query_id, l.vec_id AS neighbor_id, l.label,
        |    round(${cos("q.dv", "q.nrm", "x.dv", "x.nrm")}, 6) AS c
        |  FROM pr
        |  JOIN lists l USING (cid)
        |  JOIN n q ON q.vec_id = pr.query_id
        |  JOIN n x ON x.vec_id = l.vec_id),
        |tk AS (
        |  SELECT query_id, label FROM (
        |    SELECT query_id, label,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY c DESC, neighbor_id) AS rn
        |    FROM cand) s
        |  WHERE rn <= 5),
        |votes AS (
        |  SELECT query_id, label, count(*) AS nv
        |  FROM tk GROUP BY 1, 2),
        |pred AS (
        |  SELECT query_id, label AS pred_label FROM (
        |    SELECT query_id, label,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY nv DESC, label) AS rn
        |    FROM votes) s
        |  WHERE rn = 1)
        |SELECT te.label AS true_label, pred.pred_label, count(*) AS n
        |FROM te JOIN pred ON pred.query_id = te.vec_id
        |GROUP BY 1, 2
        |ORDER BY true_label, pred_label""".stripMargin
    },

    // q149: native session_window semantics — gaps-and-islands breaking
    // when diff > gap (measured: an EXACT-gap pair merges, the same
    // boundary as q45's engine cut — SessionWindowSpec pins it);
    // session_end = last event + gap.
    "q149_session_window" ->
      """WITH e AS (SELECT user_id, ts, value FROM events),
        |m AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (
        |  SELECT user_id, ts, value,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM m)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events,
        |  round(sum(value), 2) AS total_value
        |FROM g GROUP BY user_id, grp
        |ORDER BY user_id, session_start""".stripMargin,

    // q150: time-decay MTA replayed — integer raw weights (µs
    // arithmetic), per-click share as a division of identical integers
    // rounded to 6, per-view accumulation rounded to 6.
    "q150_mta_credit" ->
      """WITH v AS (
        |  SELECT event_id AS imp_id, user_id, ts AS imp_ts
        |  FROM events WHERE event_type = 'view'),
        |c AS (
        |  SELECT event_id AS click_id, user_id, ts AS click_ts
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT v.user_id, v.imp_id, c.click_id,
        |    3600000000 - (epoch_us(c.click_ts) - epoch_us(v.imp_ts)) AS raw
        |  FROM v JOIN c ON c.user_id = v.user_id
        |  WHERE c.click_ts >= v.imp_ts
        |    AND epoch_us(c.click_ts) - epoch_us(v.imp_ts) <= 3600000000),
        |pf AS (SELECT * FROM p WHERE raw > 0),
        |pc AS (SELECT click_id, sum(raw) AS sum_raw FROM pf GROUP BY 1),
        |sh AS (
        |  SELECT pf.user_id, pf.imp_id,
        |    round(CAST(pf.raw AS DOUBLE) / sum_raw, 6) AS share
        |  FROM pf JOIN pc USING (click_id))
        |SELECT user_id, imp_id, count(*) AS n_clicks,
        |  round(sum(share), 6) AS credit
        |FROM sh GROUP BY user_id, imp_id
        |ORDER BY credit DESC, imp_id
        |LIMIT 50""".stripMargin,

    // q151: the q82 HLL lifted to a rollup lattice — day registers
    // built once, week and whole-range estimates by register-wise max
    // over the register table only. Same mixer, same estimator, same
    // shortest-roundtrip AlphaNum embed.
    "q151_hll_rollup" ->
      s"""WITH e AS (
        |  SELECT CAST(ts AS DATE) AS day, user_id, ts FROM events
        |  WHERE user_id IS NOT NULL),
        |h AS (
        |  SELECT day,
        |    (1566083941 * ((m1 * m1) % 2147483647) + m1) % 2147483647 AS hh
        |  FROM (
        |    SELECT day,
        |      (506952114 * ((user_id % 2147483647 + 2147483647) % 2147483647)
        |        + 1013904223) % 2147483647 AS m1
        |    FROM e)),
        |dregs AS (
        |  SELECT day, hh & 1023 AS bucket,
        |    max(22 - CASE WHEN (hh >> 10) = 0 THEN 0
        |                  ELSE length(bin(hh >> 10)) END) AS reg
        |  FROM h GROUP BY 1, 2),
        |wregs AS (
        |  SELECT strftime(date_trunc('week', day), '%Y-%m-%d') AS period,
        |    bucket, max(reg) AS reg
        |  FROM dregs GROUP BY 1, 2),
        |aregs AS (
        |  SELECT '__all__' AS period, bucket, max(reg) AS reg
        |  FROM dregs GROUP BY 2),
        |sk AS (
        |  SELECT period, count(*) AS used,
        |    sum(1 << (22 - reg)) AS s_part
        |  FROM (SELECT * FROM wregs UNION ALL SELECT * FROM aregs)
        |  GROUP BY 1),
        |est AS (
        |  SELECT period, used,
        |    ${java.lang.Double.toString(graft.analytics.Hll.AlphaNum)}
        |      / CAST(s_part + (1024 - used) * 4194304 AS DOUBLE) AS raw
        |  FROM sk),
        |ex AS (
        |  SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS period,
        |    count(DISTINCT user_id) AS exact_users
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1
        |  UNION ALL
        |  SELECT '__all__', count(DISTINCT user_id)
        |  FROM events WHERE user_id IS NOT NULL)
        |SELECT est.period,
        |  CAST(round(CASE WHEN raw <= 2560.0 AND used < 1024
        |       THEN 1024.0 * ln(1024.0 / CAST(1024 - used AS DOUBLE))
        |       ELSE raw END) AS BIGINT) AS est_users,
        |  CAST(exact_users AS BIGINT) AS exact_users
        |FROM est JOIN ex ON ex.period = est.period
        |ORDER BY est.period""".stripMargin,

    // q152: the Z-set maintenance algebra replayed — base partials,
    // signed delta aggregation, the ⊕ merge, zero-count elimination.
    "q152_ivm_maintain" ->
      """WITH o AS (
        |  SELECT o_custkey AS key, o_orderkey AS okey,
        |    o_totalprice AS value
        |  FROM orders),
        |v AS (
        |  SELECT key, count(*) AS n, sum(value) AS total
        |  FROM o WHERE okey % 10 <> 0 GROUP BY 1),
        |d AS (
        |  SELECT key, CAST(sum(sign) AS BIGINT) AS n,
        |    sum(sign * value) AS total
        |  FROM (
        |    SELECT key, 1 AS sign, value FROM o WHERE okey % 10 = 0
        |    UNION ALL
        |    SELECT key, -1, value FROM o
        |    WHERE okey % 10 <> 0 AND okey % 7 = 0) s
        |  GROUP BY 1),
        |m AS (
        |  SELECT key, CAST(sum(n) AS BIGINT) AS n, sum(total) AS total
        |  FROM (SELECT * FROM v UNION ALL SELECT * FROM d) u
        |  GROUP BY 1)
        |SELECT key AS o_custkey, n AS n_orders,
        |  round(total, 2) AS total_spend,
        |  round(round(total, 2) / n, 6) AS avg_spend
        |FROM m WHERE n > 0
        |ORDER BY o_custkey""".stripMargin,

    // q158-q160 share the spatial fixture: two points per customer
    // (hash-scattered home + offset work point), all coordinates
    // INTEGER-VALUED — differences/squares/sums/means stay exact IEEE
    // integer arithmetic, so no rounding is needed anywhere and the
    // engines must agree bit-for-bit (graft.operators.Spatial
    // .spatialPoints mirrors this CTE verbatim).
    "q158_cell_density" ->
      s"""WITH $SpatialPts
        |SELECT CAST(floor(x / 256.0) AS BIGINT) AS cell_x,
        |  CAST(floor(y / 256.0) AS BIGINT) AS cell_y,
        |  count(*) AS n, avg(x) AS avg_x, avg(y) AS avg_y
        |FROM pts GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q159: the oracle is the O(n²) brute-force distance join —
    // agreement proves the engine's 5-replica grid blocking generates
    // every within-radius pair (the q28-style exhaustiveness proof).
    "q159_radius_pairs" ->
      s"""WITH $SpatialPts
        |SELECT a.id AS id_a, b.id AS id_b,
        |  (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
        |FROM pts a JOIN pts b ON a.id < b.id
        |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |  <= 40000.0
        |ORDER BY id_a, id_b""".stripMargin,

    // q160: closed-edge containment counts with zero-count boxes kept
    // (LEFT JOIN + count(p.id)).
    "q160_box_join" ->
      s"""WITH $SpatialPts,
        |n AS (SELECT CAST(n_nationkey AS BIGINT) AS nk, n_name FROM nation),
        |boxes AS (
        |  SELECT nk AS n_nationkey, n_name,
        |    CAST((nk * 9973) % 60000 AS DOUBLE) AS x_lo,
        |    CAST((nk * 9973) % 60000 + 4000 + (nk % 7) * 1000
        |      AS DOUBLE) AS x_hi,
        |    CAST((nk * 12007) % 60000 AS DOUBLE) AS y_lo,
        |    CAST((nk * 12007) % 60000 + 4000 + (nk % 5) * 1500
        |      AS DOUBLE) AS y_hi
        |  FROM n)
        |SELECT b.n_nationkey, b.n_name, count(p.id) AS n_pts
        |FROM boxes b LEFT JOIN pts p
        |  ON p.x >= b.x_lo AND p.x <= b.x_hi
        | AND p.y >= b.y_lo AND p.y <= b.y_hi
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,

    // q161: the oracle proves the MSF by the CUT PROPERTY, not by
    // replaying Borůvka — under the (w, u, v) lexicographic total order
    // the forest is unique, and an edge belongs to it iff its endpoints
    // are disconnected in the strictly-lighter subgraph. The recursive
    // CTE walks, per candidate edge, the component of u under edges
    // ranked below it; NOT EXISTS(v reached) is membership. A completely
    // different algorithm from the engine's component-contraction, so
    // agreement is a two-algorithm proof. Edge CTEs = q146's verbatim.
    "q161_mst_backbone" ->
      """WITH RECURSIVE cp AS (
        |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |capped AS (
        |  SELECT c, p FROM (
        |    SELECT c, p, count(*) OVER (PARTITION BY p) AS df FROM cp)
        |  WHERE df <= 18),
        |ew AS (
        |  SELECT x.c AS u, y.c AS v, round(1.0 / count(*), 6) AS w
        |  FROM capped x JOIN capped y ON x.p = y.p AND x.c < y.c
        |  GROUP BY 1, 2),
        |e AS (
        |  SELECT u, v, w, row_number() OVER (ORDER BY w, u, v) AS eid
        |  FROM ew),
        |r(eid, node) AS (
        |  SELECT eid, u FROM e
        |  UNION
        |  SELECT r.eid, CASE WHEN x.u = r.node THEN x.v ELSE x.u END
        |  FROM r JOIN e x ON x.eid < r.eid
        |    AND (x.u = r.node OR x.v = r.node))
        |SELECT e.u AS cust_u, e.v AS cust_v, e.w FROM e
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM r WHERE r.eid = e.eid AND r.node = e.v)
        |ORDER BY 1, 2""".stripMargin,

    // q162: the K greedy max-coverage rounds unrolled (the Lloyd-unroll
    // discipline): each round recomputes per-doc marginal gain against
    // the covered set, argmaxes with the (gain DESC, doc_id) tie-break,
    // and extends the covered set. Tokenization mirrors the q40 CTE.
    "q162_greedy_cover" -> {
      val k = graft.pipeline.Coverage.K
      def round(i: Int): String =
        s"""m$i AS (
        |  SELECT t.doc_id, count(*) AS g FROM tk t
        |  WHERE NOT EXISTS (SELECT 1 FROM c${i - 1} c WHERE c.token = t.token)
        |  GROUP BY 1),
        |p$i AS (
        |  SELECT doc_id, g FROM m$i WHERE g > 0
        |  ORDER BY g DESC, doc_id LIMIT 1),
        |c$i AS (
        |  SELECT token FROM c${i - 1}
        |  UNION
        |  SELECT t.token FROM tk t JOIN p$i USING (doc_id))"""
      val rounds = (1 to k).map(round).mkString(",\n")
      val emit = (1 to k).map(i =>
        s"""SELECT CAST($i AS BIGINT) AS rank, doc_id, g AS gain,
        |  (SELECT count(*) FROM c$i) AS covered_total FROM p$i""")
        .mkString("\nUNION ALL\n")
      s"""WITH tk AS (
        |  SELECT DISTINCT doc_id, t AS token
        |  FROM (SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
        |  FROM documents)),
        |c0 AS (SELECT token FROM tk WHERE 1 = 0),
        |$rounds
        |SELECT * FROM (
        |$emit)
        |ORDER BY rank""".stripMargin
    },

    // q163: both CM sketches replayed cell-exactly (the q141 build,
    // constants interpolated from CountMin), the inner-product estimate
    // min'd over rows, and the exact frequency-vector inner product as
    // the twin. BIGINT casts guard the HUGEINT sum trap.
    "q163_join_size_sketch" -> {
      val P = graft.analytics.CountMin.P
      val W = graft.analytics.CountMin.W
      def sk(pfx: String, table: String, key: String): String = {
        val cells = graft.analytics.CountMin.Hashes.map { case (i, a, b) =>
          s"SELECT $i AS r, (($a * x + $b) % $P) % $W AS bucket, n FROM f$pfx"
        }.mkString("\n  UNION ALL ")
        s"""f$pfx AS (
        |  SELECT CAST($key AS BIGINT) AS key,
        |    (CAST($key AS BIGINT) % $P + $P) % $P AS x,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM $table GROUP BY 1, 2),
        |m$pfx AS (
        |  SELECT r, bucket, sum(n) AS c FROM (
        |  $cells) GROUP BY 1, 2)"""
      }
      def pair(name: String, a: String, b: String): String =
        s"""SELECT CAST('$name' AS VARCHAR) AS join_name,
        |  (SELECT CAST(coalesce(sum(x.n * y.n), 0) AS BIGINT)
        |   FROM f$a x JOIN f$b y USING (key)) AS exact_n,
        |  (SELECT CAST(min(s) AS BIGINT) FROM (
        |    SELECT ca.r, sum(ca.c * cb.c) AS s
        |    FROM m$a ca JOIN m$b cb
        |      ON ca.r = cb.r AND ca.bucket = cb.bucket
        |    GROUP BY 1)) AS cms_est"""
      s"""WITH ${sk("o", "orders", "o_custkey")},
        |${sk("e", "events", "user_id")},
        |${sk("l", "lineitem", "l_partkey")},
        |pairs AS (
        |${pair("orders_events_cust", "o", "e")}
        |UNION ALL
        |${pair("lineitem_self_part", "l", "l")})
        |SELECT join_name, exact_n, cms_est,
        |  round((cms_est - exact_n) * 100.0 / exact_n, 4) AS err_pct
        |FROM pairs ORDER BY join_name""".stripMargin
    },

    // q164: the dirty registry rebuilt, pairwise email/phone matches,
    // q40-style recursive-CTE connected components for the transitive
    // identity, then each survivorship rule as its own window argmax —
    // a different mechanism from the engine's struct-max/min aggregates,
    // so agreement proves the RULES, not the plumbing.
    "q164_golden_record" ->
      """WITH RECURSIVE c AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k, c_name, c_acctbal,
        |    c_mktsegment
        |  FROM customer),
        |recs AS (
        |  SELECT k * 4 AS rid, 'e' || CAST(k AS VARCHAR) AS email,
        |    'p' || CAST(k AS VARCHAR) AS phone, c_name AS name,
        |    c_acctbal AS acctbal, c_mktsegment AS mktsegment,
        |    CAST(1 AS BIGINT) AS version
        |  FROM c
        |  UNION ALL
        |  SELECT k * 4 + 1, 'e' || CAST(k AS VARCHAR),
        |    'px' || CAST(k AS VARCHAR), upper(c_name),
        |    CAST(NULL AS DOUBLE), c_mktsegment, 2
        |  FROM c WHERE k % 3 = 0
        |  UNION ALL
        |  SELECT k * 4 + 2, 'ex' || CAST(k AS VARCHAR),
        |    'px' || CAST(k AS VARCHAR), c_name || ' JR',
        |    round(c_acctbal + 5.0, 2), 'MACHINERY', 3
        |  FROM c WHERE k % 6 = 0),
        |p AS (
        |  SELECT a.rid AS id_a, b.rid AS id_b
        |  FROM recs a JOIN recs b ON a.email = b.email AND a.rid < b.rid
        |  UNION
        |  SELECT a.rid, b.rid
        |  FROM recs a JOIN recs b ON a.phone = b.phone AND a.rid < b.rid),
        |ed AS (
        |  SELECT id_a AS src, id_b AS dst FROM p
        |  UNION ALL SELECT id_b, id_a FROM p),
        |walk(id, lbl) AS (
        |  SELECT src, src FROM ed
        |  UNION
        |  SELECT e.src, w.lbl FROM ed e JOIN walk w ON w.id = e.dst),
        |lab AS (SELECT id AS rid, min(lbl) AS cluster_id FROM walk GROUP BY id),
        |cl AS (
        |  SELECT r.*, coalesce(l.cluster_id, r.rid) AS cluster_id
        |  FROM recs r LEFT JOIN lab l ON l.rid = r.rid),
        |nm AS (
        |  SELECT cluster_id, name FROM (
        |    SELECT cluster_id, name, row_number() OVER (
        |      PARTITION BY cluster_id ORDER BY version DESC) AS rn FROM cl)
        |  WHERE rn = 1),
        |ab AS (
        |  SELECT cluster_id, acctbal FROM (
        |    SELECT cluster_id, acctbal, row_number() OVER (
        |      PARTITION BY cluster_id ORDER BY version DESC) AS rn
        |    FROM cl WHERE acctbal IS NOT NULL)
        |  WHERE rn = 1),
        |sg AS (
        |  SELECT cluster_id, mktsegment FROM (
        |    SELECT cluster_id, mktsegment, row_number() OVER (
        |      PARTITION BY cluster_id ORDER BY cnt DESC, mktsegment) AS rn
        |    FROM (SELECT cluster_id, mktsegment, count(*) AS cnt
        |      FROM cl GROUP BY 1, 2))
        |  WHERE rn = 1),
        |nn AS (
        |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_records
        |  FROM cl GROUP BY 1)
        |SELECT nn.cluster_id, nn.n_records, nm.name, ab.acctbal,
        |  sg.mktsegment
        |FROM nn JOIN nm USING (cluster_id) JOIN ab USING (cluster_id)
        |  JOIN sg USING (cluster_id)
        |ORDER BY cluster_id""".stripMargin,

    // q165: the q151 register replay windowed — day registers built once
    // (identical CTEs), then each trailing-7-day window is a range-join
    // max-merge over the register table (the oracle's range join and the
    // engine's explode-to-7-windows equi-join are different formulations
    // of the same membership). Exact twin from distinct (day, user)
    // pairs through the same windows.
    "q165_hll_sliding" ->
      s"""WITH e AS (
        |  SELECT CAST(ts AS DATE) AS day, user_id FROM events
        |  WHERE user_id IS NOT NULL),
        |h AS (
        |  SELECT day,
        |    (1566083941 * ((m1 * m1) % 2147483647) + m1) % 2147483647 AS hh
        |  FROM (
        |    SELECT day,
        |      (506952114 * ((user_id % 2147483647 + 2147483647) % 2147483647)
        |        + 1013904223) % 2147483647 AS m1
        |    FROM e)),
        |dregs AS (
        |  SELECT day, hh & 1023 AS bucket,
        |    max(22 - CASE WHEN (hh >> 10) = 0 THEN 0
        |                  ELSE length(bin(hh >> 10)) END) AS reg
        |  FROM h GROUP BY 1, 2),
        |ends AS (SELECT DISTINCT day AS window_end FROM e),
        |wregs AS (
        |  SELECT w.window_end, r.bucket, max(r.reg) AS reg
        |  FROM ends w JOIN dregs r
        |    ON r.day >= w.window_end - INTERVAL 6 DAY
        |   AND r.day <= w.window_end
        |  GROUP BY 1, 2),
        |sk AS (
        |  SELECT window_end, count(*) AS used,
        |    sum(1 << (22 - reg)) AS s_part
        |  FROM wregs GROUP BY 1),
        |est AS (
        |  SELECT window_end, used,
        |    ${java.lang.Double.toString(graft.analytics.Hll.AlphaNum)}
        |      / CAST(s_part + (1024 - used) * 4194304 AS DOUBLE) AS raw
        |  FROM sk),
        |pairs AS (SELECT DISTINCT day, user_id FROM e),
        |ex AS (
        |  SELECT w.window_end, count(DISTINCT p.user_id) AS exact_users
        |  FROM ends w JOIN pairs p
        |    ON p.day >= w.window_end - INTERVAL 6 DAY
        |   AND p.day <= w.window_end
        |  GROUP BY 1),
        |fin AS (
        |  SELECT est.window_end,
        |    CAST(round(CASE WHEN raw <= 2560.0 AND used < 1024
        |         THEN 1024.0 * ln(1024.0 / CAST(1024 - used AS DOUBLE))
        |         ELSE raw END) AS BIGINT) AS est_users,
        |    CAST(ex.exact_users AS BIGINT) AS exact_users
        |  FROM est JOIN ex USING (window_end))
        |SELECT window_end, est_users, exact_users,
        |  round((est_users - exact_users) * 100.0 / exact_users, 4)
        |    AS err_pct
        |FROM fin ORDER BY window_end""".stripMargin,

    // q166: the fixed IVF codebook + nprobe=1 assignment replayed (the
    // q37 oracle's untrained first third), then within-list pairwise
    // cosine, per-vector top-1 under the (round 6, id) tie-break, and
    // the reciprocal self-join.
    "q166_mutual_nn" -> {
      import graft.functions.VectorHash._
      def cos(adv: String, anrm: String, bdv: String, bnrm: String): String =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
          s"list_transform(range(1, len($adv) + 1), i -> $adv[i] * $bdv[i])), " +
          s"(s, x) -> s + x) / ($anrm * $bnrm)"
      s"""WITH e AS (
        |  SELECT vec_id, embedding AS v,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, dv,
        |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(dv, x -> x * x)), (s, x) -> s + x)) AS nrm
        |  FROM e),
        |sd AS (
        |  SELECT vec_id,
        |    (($PlaneA1 * (vec_id % $PlaneP) + $PlaneB1) % $PlaneP) AS m1
        |  FROM e),
        |sh2 AS (
        |  SELECT vec_id,
        |    (($PlaneA2 * ((m1 * m1) % $PlaneP) + m1) % $PlaneP) AS h
        |  FROM sd),
        |nl AS (
        |  SELECT greatest(16, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS nlist
        |  FROM e),
        |c0 AS (
        |  SELECT CAST(row_number() OVER (ORDER BY sh2.h, sh2.vec_id) - 1
        |      AS BIGINT) AS cid,
        |    e.v AS c
        |  FROM sh2 JOIN e ON e.vec_id = sh2.vec_id
        |  QUALIFY row_number() OVER (ORDER BY sh2.h, sh2.vec_id)
        |    <= (SELECT nlist FROM nl)),
        |cn AS (
        |  SELECT cid, list_transform(c, x -> CAST(x AS DOUBLE)) AS cdv,
        |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(c, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
        |      (s, x) -> s + x)) AS cnrm
        |  FROM c0),
        |asg AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT n.vec_id, t.cid,
        |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
        |        (${cos("n.dv", "n.nrm", "t.cdv", "t.cnrm")})
        |        DESC NULLS LAST, t.cid) AS rn
        |    FROM n, cn t) s
        |  WHERE rn = 1),
        |sc AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS nid,
        |    ${cos("na.dv", "na.nrm", "nb.dv", "nb.nrm")} AS cos
        |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id <> b.vec_id
        |  JOIN n na ON na.vec_id = a.vec_id
        |  JOIN n nb ON nb.vec_id = b.vec_id),
        |t1 AS (
        |  SELECT qid, nid, cos FROM (
        |    SELECT qid, nid, cos, row_number() OVER (PARTITION BY qid
        |      ORDER BY round(cos, 6) DESC, nid) AS rn
        |    FROM sc) s
        |  WHERE rn = 1)
        |SELECT x.qid AS id_a, x.nid AS id_b, round(x.cos, 4) AS cosine
        |FROM t1 x JOIN t1 y
        |  ON x.qid = y.nid AND x.nid = y.qid AND x.qid < x.nid
        |ORDER BY id_a""".stripMargin
    },

    // q167: the oracle skips the Misra–Gries sketch entirely — it
    // computes every key's exact per-half counts and applies the same
    // integer threshold |Δ|·k > n_b + n_c. Agreement proves the
    // engine's bounded candidate set covered every key above the
    // threshold (the MG coverage guarantee, tested rather than assumed).
    "q167_heavy_changers" ->
      """WITH e AS (SELECT event_id, user_id FROM events),
        |m AS (SELECT max(event_id) / 2 AS m FROM e),
        |b AS (
        |  SELECT user_id, count(*) AS c FROM e, m
        |  WHERE event_id <= m GROUP BY 1),
        |c AS (
        |  SELECT user_id, count(*) AS c FROM e, m
        |  WHERE event_id > m GROUP BY 1),
        |t AS (
        |  SELECT (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM b) AS nb,
        |    (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM c) AS nc),
        |j AS (
        |  SELECT coalesce(b.user_id, c.user_id) AS user_id,
        |    CAST(coalesce(b.c, 0) AS BIGINT) AS n_base,
        |    CAST(coalesce(c.c, 0) AS BIGINT) AS n_cur
        |  FROM b FULL OUTER JOIN c ON b.user_id = c.user_id)
        |SELECT user_id, n_base, n_cur, n_cur - n_base AS delta
        |FROM j, t
        |WHERE abs(n_cur - n_base) * 512 > nb + nc
        |ORDER BY abs(n_cur - n_base) DESC, user_id""".stripMargin,

    // q168: the CDC log rebuilt, then the textbook row_number()-DESC
    // winner — a different mechanism from the engine's map-side
    // struct-max aggregate, so agreement proves the compaction RULES
    // (per-key (ts, seq) order, tombstone drop, delete-reinsert) and
    // not the plumbing.
    "q168_cdc_snapshot" ->
      """WITH o AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderstatus,
        |    o_totalprice, o_orderdate
        |  FROM orders),
        |log AS (
        |  SELECT k, o_orderdate AS ts, CAST(1 AS BIGINT) AS seq,
        |    'I' AS op, o_orderstatus AS status, o_totalprice AS price
        |  FROM o
        |  UNION ALL
        |  SELECT k, o_orderdate + INTERVAL 3 DAY, 1, 'U', 'O',
        |    round(o_totalprice + 50.0, 2)
        |  FROM o WHERE k % 3 = 0
        |  UNION ALL
        |  SELECT k, o_orderdate + INTERVAL 2 DAY, 1, 'U', 'P',
        |    round(o_totalprice + 10.0, 2)
        |  FROM o WHERE k % 7 = 0
        |  UNION ALL
        |  SELECT k, o_orderdate + INTERVAL 2 DAY, 2, 'U', 'F',
        |    round(o_totalprice + 10.01, 2)
        |  FROM o WHERE k % 7 = 0
        |  UNION ALL
        |  SELECT k, o_orderdate + INTERVAL 5 DAY, 1, 'D',
        |    CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
        |  FROM o WHERE k % 5 = 0
        |  UNION ALL
        |  SELECT k, o_orderdate + INTERVAL 7 DAY, 1, 'I', 'O',
        |    round(o_totalprice + 200.0, 2)
        |  FROM o WHERE k % 15 = 0),
        |w AS (
        |  SELECT k, ts, seq, op, status, price,
        |    row_number() OVER (PARTITION BY k
        |      ORDER BY ts DESC, seq DESC) AS rn,
        |    count(*) OVER (PARTITION BY k) AS n_ops
        |  FROM log)
        |SELECT k AS o_orderkey, ts AS last_ts, seq AS last_seq, status,
        |  price, CAST(n_ops AS BIGINT) AS n_ops
        |FROM w WHERE rn = 1 AND op <> 'D'
        |ORDER BY o_orderkey""".stripMargin,

    // q169: the oracle states the plan with ONE plain global window
    // (fine at oracle scale) against the engine's bucketed prefix sum —
    // boundary def b_i = min{v : cum(v) >= ceil(i*n/16)}, bucket(v) =
    // #{boundaries < v}, exact integer rank arithmetic in both engines.
    "q169_partition_plan" ->
      """WITH c AS (
        |  SELECT CAST(o_totalprice AS DOUBLE) AS v,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1),
        |cc AS (SELECT v, n, sum(n) OVER (ORDER BY v) AS cum FROM c),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c),
        |ranks AS (
        |  SELECT CAST(i AS BIGINT) AS i, (i * tot + 15) // 16 AS r
        |  FROM generate_series(1, 15) s(i), t),
        |b AS (
        |  SELECT r.i, cc.v AS bound
        |  FROM ranks r JOIN cc ON cc.cum - cc.n < r.r AND cc.cum >= r.r),
        |asg AS (
        |  SELECT c.v, c.n,
        |    (SELECT count(*) FROM b WHERE b.bound < c.v) AS bucket_id
        |  FROM c),
        |sz AS (
        |  SELECT bucket_id, CAST(sum(n) AS BIGINT) AS n_rows
        |  FROM asg GROUP BY 1)
        |SELECT CAST(g.i AS BIGINT) AS bucket_id, b.bound AS upper_bound,
        |  coalesce(sz.n_rows, 0) AS n_rows,
        |  round(coalesce(sz.n_rows, 0) * 100.0 / t.tot, 4) AS pct_rows
        |FROM generate_series(0, 15) g(i)
        |LEFT JOIN b ON b.i = g.i + 1
        |LEFT JOIN sz ON sz.bucket_id = g.i
        |CROSS JOIN t
        |ORDER BY bucket_id""".stripMargin,

    // q170: item-item CF mirror — same cap, same cosine, same pinned
    // tie order (round(cos, 6) DESC, neighbor_id).
    "q170_item_cf" ->
      """WITH b AS (
        |  SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS basket_id,
        |    CAST(l_partkey AS BIGINT) AS item_id
        |  FROM lineitem),
        |sized AS (
        |  SELECT basket_id, item_id FROM (
        |    SELECT basket_id, item_id,
        |      count(*) OVER (PARTITION BY basket_id) AS bn
        |    FROM b) s
        |  WHERE bn <= 16),
        |deg AS (
        |  SELECT item_id, CAST(count(*) AS BIGINT) AS deg
        |  FROM sized GROUP BY 1),
        |co AS (
        |  SELECT x.item_id AS a, y.item_id AS b,
        |    CAST(count(*) AS BIGINT) AS co
        |  FROM sized x JOIN sized y
        |    ON x.basket_id = y.basket_id AND x.item_id < y.item_id
        |  GROUP BY 1, 2),
        |sym AS (
        |  SELECT a AS item_id, b AS neighbor_id, co FROM co
        |  UNION ALL
        |  SELECT b, a, co FROM co),
        |sc AS (
        |  SELECT s.item_id, s.neighbor_id, s.co,
        |    s.co / sqrt(CAST(da.deg * db.deg AS DOUBLE)) AS cos
        |  FROM sym s
        |  JOIN deg da ON da.item_id = s.item_id
        |  JOIN deg db ON db.item_id = s.neighbor_id),
        |r AS (
        |  SELECT item_id, neighbor_id, co, cos,
        |    CAST(row_number() OVER (PARTITION BY item_id
        |      ORDER BY round(cos, 6) DESC, neighbor_id) AS BIGINT) AS rnk
        |  FROM sc)
        |SELECT item_id, rnk, neighbor_id, round(cos, 4) AS cosine, co
        |FROM r WHERE rnk <= 5
        |ORDER BY item_id, rnk""".stripMargin,

    // q171: the q166 IVF trajectory replay (codebook, nprobe=1 lists,
    // within-list candidates), then per-vector top-5 by the pinned
    // (round-6 cos DESC, nid) rule, label disagreement counted and the
    // integer majority verdict 2*disagree > n_nbrs — singleton-list
    // vectors survive the left join with n_nbrs = 0, flagged false.
    "q171_label_noise" -> {
      import graft.functions.VectorHash._
      def cos(adv: String, anrm: String, bdv: String, bnrm: String): String =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
          s"list_transform(range(1, len($adv) + 1), i -> $adv[i] * $bdv[i])), " +
          s"(s, x) -> s + x) / ($anrm * $bnrm)"
      s"""WITH e AS (
        |  SELECT vec_id, label,
        |    embedding AS v,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, label, dv,
        |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(dv, x -> x * x)), (s, x) -> s + x)) AS nrm
        |  FROM e),
        |sd AS (
        |  SELECT vec_id,
        |    (($PlaneA1 * (vec_id % $PlaneP) + $PlaneB1) % $PlaneP) AS m1
        |  FROM e),
        |sh2 AS (
        |  SELECT vec_id,
        |    (($PlaneA2 * ((m1 * m1) % $PlaneP) + m1) % $PlaneP) AS h
        |  FROM sd),
        |nl AS (
        |  SELECT greatest(16, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS nlist
        |  FROM e),
        |c0 AS (
        |  SELECT CAST(row_number() OVER (ORDER BY sh2.h, sh2.vec_id) - 1
        |      AS BIGINT) AS cid,
        |    e.v AS c
        |  FROM sh2 JOIN e ON e.vec_id = sh2.vec_id
        |  QUALIFY row_number() OVER (ORDER BY sh2.h, sh2.vec_id)
        |    <= (SELECT nlist FROM nl)),
        |cn AS (
        |  SELECT cid, list_transform(c, x -> CAST(x AS DOUBLE)) AS cdv,
        |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(c, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
        |      (s, x) -> s + x)) AS cnrm
        |  FROM c0),
        |asg AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT n.vec_id, t.cid,
        |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
        |        (${cos("n.dv", "n.nrm", "t.cdv", "t.cnrm")})
        |        DESC NULLS LAST, t.cid) AS rn
        |    FROM n, cn t) s
        |  WHERE rn = 1),
        |sc AS (
        |  SELECT a.vec_id AS qid, na.label AS qlabel,
        |    nb.label AS nlabel, b.vec_id AS nid,
        |    ${cos("na.dv", "na.nrm", "nb.dv", "nb.nrm")} AS cos
        |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id <> b.vec_id
        |  JOIN n na ON na.vec_id = a.vec_id
        |  JOIN n nb ON nb.vec_id = b.vec_id),
        |tk AS (
        |  SELECT qid, qlabel, nlabel FROM (
        |    SELECT qid, qlabel, nlabel, row_number() OVER (PARTITION BY qid
        |      ORDER BY round(cos, 6) DESC, nid) AS rn
        |    FROM sc) s
        |  WHERE rn <= 5),
        |vd AS (
        |  SELECT qid, CAST(count(*) AS BIGINT) AS n_nbrs,
        |    CAST(sum(CASE WHEN nlabel <> qlabel THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_disagree
        |  FROM tk GROUP BY 1)
        |SELECT e.vec_id, e.label,
        |  coalesce(vd.n_nbrs, 0) AS n_nbrs,
        |  coalesce(vd.n_disagree, 0) AS n_disagree,
        |  coalesce(vd.n_disagree, 0) * 2 > coalesce(vd.n_nbrs, 0) AS flagged
        |FROM e LEFT JOIN vd ON vd.qid = e.vec_id
        |ORDER BY e.vec_id""".stripMargin
    },

    // q172: the positional index rebuilt (0-based pos to match
    // posexplode; DuckDB lists are 1-based so t[i + 1] walks i = 0..),
    // the same 5 leading phrases, and the 3-way positional intersect —
    // overlapping occurrences count separately in both engines.
    "q172_phrase_search" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, CAST(i AS INT) AS pos, t[i + 1] AS term
        |  FROM tk, unnest(range(0, len(t))) AS g(i)),
        |ph AS (
        |  SELECT doc_id AS phrase_id, t[1] AS w1, t[2] AS w2, t[3] AS w3,
        |    array_to_string(list_slice(t, 1, 3), ' ') AS phrase
        |  FROM tk WHERE len(t) >= 3
        |  ORDER BY doc_id LIMIT 5)
        |SELECT ph.phrase_id, ph.phrase, a.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_hits
        |FROM ph
        |JOIN idx a ON a.term = ph.w1
        |JOIN idx b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |  AND b.term = ph.w2
        |JOIN idx c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
        |  AND c.term = ph.w3
        |GROUP BY 1, 2, 3
        |ORDER BY phrase_id, a.doc_id""".stripMargin,

    // q173: the cascade (customer %97 → orders → lineitem) and the
    // q144 file grain replayed; the left joins are key-unique on the
    // probe side, so count(k) counts casualties without multiplying.
    "q173_forget_plan" ->
      """WITH fk AS (
        |  SELECT DISTINCT CAST(c_custkey AS BIGINT) AS k
        |  FROM customer WHERE c_custkey % 97 = 0),
        |osp AS (
        |  SELECT CAST(ceil((max(o_orderkey) + 1) / 64.0) AS BIGINT) AS span
        |  FROM orders),
        |o AS (
        |  SELECT o_orderkey, o_custkey, o_orderkey // span AS file_id
        |  FROM orders, osp),
        |oplan AS (
        |  SELECT 'orders' AS table_name, file_id,
        |    CAST(count(*) AS BIGINT) AS n_file_rows,
        |    CAST(count(fk.k) AS BIGINT) AS n_delete
        |  FROM o LEFT JOIN fk ON o.o_custkey = fk.k
        |  GROUP BY 2),
        |aff AS (
        |  SELECT o_orderkey AS dead_ok FROM o JOIN fk ON o.o_custkey = fk.k),
        |lsp AS (
        |  SELECT CAST(ceil((max(l_orderkey) + 1) / 64.0) AS BIGINT) AS span
        |  FROM lineitem),
        |l AS (
        |  SELECT l_orderkey, l_orderkey // span AS file_id
        |  FROM lineitem, lsp),
        |lplan AS (
        |  SELECT 'lineitem' AS table_name, file_id,
        |    CAST(count(*) AS BIGINT) AS n_file_rows,
        |    CAST(count(aff.dead_ok) AS BIGINT) AS n_delete
        |  FROM l LEFT JOIN aff ON l.l_orderkey = aff.dead_ok
        |  GROUP BY 2),
        |u AS (SELECT * FROM oplan UNION ALL SELECT * FROM lplan)
        |SELECT table_name, file_id, n_delete, n_file_rows,
        |  round(n_delete * 100.0 / n_file_rows, 4) AS pct_rewrite
        |FROM u WHERE n_delete > 0
        |ORDER BY table_name, file_id""".stripMargin,

    // q174: the deterministic (ts, event_id) reservoir replayed as a
    // row_number window, capped/uncapped measures from one conditional
    // aggregate — identical arithmetic, identical rounding.
    "q174_capped_release" ->
      """WITH r AS (
        |  SELECT event_type, user_id, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN rn <= 10 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_rows_capped,
        |  round(sum(value), 2) AS sum_value,
        |  round(sum(CASE WHEN rn <= 10 THEN value ELSE 0.0 END), 2)
        |    AS sum_value_capped,
        |  round((count(*) - sum(CASE WHEN rn <= 10 THEN 1 ELSE 0 END))
        |    * 100.0 / count(*), 4) AS clamp_loss_pct
        |FROM r GROUP BY 1
        |ORDER BY event_type""".stripMargin,

    // q175: the q164 registry + blocked pairs + recursive-CTE clusters
    // replayed; the truth count is Σ s(s−1)/2 over cluster sizes — the
    // same no-pair-explode arithmetic as the engine.
    "q175_blocking_quality" ->
      """WITH RECURSIVE c AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k, c_name FROM customer),
        |recs AS (
        |  SELECT k * 4 AS rid, 'e' || CAST(k AS VARCHAR) AS email,
        |    'p' || CAST(k AS VARCHAR) AS phone
        |  FROM c
        |  UNION ALL
        |  SELECT k * 4 + 1, 'e' || CAST(k AS VARCHAR),
        |    'px' || CAST(k AS VARCHAR)
        |  FROM c WHERE k % 3 = 0
        |  UNION ALL
        |  SELECT k * 4 + 2, 'ex' || CAST(k AS VARCHAR),
        |    'px' || CAST(k AS VARCHAR)
        |  FROM c WHERE k % 6 = 0),
        |ep AS (
        |  SELECT a.rid AS id_a, b.rid AS id_b
        |  FROM recs a JOIN recs b ON a.email = b.email AND a.rid < b.rid),
        |pp AS (
        |  SELECT a.rid AS id_a, b.rid AS id_b
        |  FROM recs a JOIN recs b ON a.phone = b.phone AND a.rid < b.rid),
        |cand AS (SELECT * FROM ep UNION SELECT * FROM pp),
        |ed AS (
        |  SELECT id_a AS src, id_b AS dst FROM cand
        |  UNION ALL SELECT id_b, id_a FROM cand),
        |walk(id, lbl) AS (
        |  SELECT src, src FROM ed
        |  UNION
        |  SELECT e.src, w.lbl FROM ed e JOIN walk w ON w.id = e.dst),
        |lab AS (SELECT id, min(lbl) AS cluster_id FROM walk GROUP BY id),
        |sz AS (SELECT cluster_id, count(*) AS s FROM lab GROUP BY 1),
        |t AS (
        |  SELECT CAST(coalesce(sum(s * (s - 1) // 2), 0) AS BIGINT)
        |    AS n_truth_pairs
        |  FROM sz),
        |m AS (
        |  SELECT
        |    (SELECT CAST(count(*) AS BIGINT) FROM recs) AS n_records,
        |    (SELECT CAST(count(*) AS BIGINT) FROM ep) AS n_email_pairs,
        |    (SELECT CAST(count(*) AS BIGINT) FROM pp) AS n_phone_pairs,
        |    (SELECT CAST(count(*) AS BIGINT) FROM ep
        |      WHERE (id_a, id_b) IN (SELECT (id_a, id_b) FROM pp))
        |      AS n_both_keys,
        |    (SELECT CAST(count(*) AS BIGINT) FROM cand)
        |      AS n_candidate_pairs,
        |    (SELECT n_truth_pairs FROM t) AS n_truth_pairs)
        |SELECT n_records, n_email_pairs, n_phone_pairs, n_both_keys,
        |  n_candidate_pairs, n_truth_pairs,
        |  n_truth_pairs - n_candidate_pairs AS n_transitive_only,
        |  CASE WHEN n_truth_pairs > 0 THEN
        |    round(n_candidate_pairs * 1.0 / n_truth_pairs, 6) END
        |    AS pair_completeness,
        |  CASE WHEN n_records > 1 THEN
        |    round(1.0 - n_candidate_pairs * 2.0
        |      / (n_records * (n_records - 1)), 6) END AS reduction_ratio
        |FROM m""".stripMargin,

    // q176: the ledger rebuilt, then the textbook row_number winner
    // (valid_from DESC, recorded_tx DESC) per (T, V, key) — a different
    // mechanism from the engine's struct-max, so agreement proves the
    // bitemporal resolution RULE, not the plumbing (the q168 pattern).
    "q176_bitemporal" ->
      """WITH o AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_totalprice
        |  FROM orders),
        |led AS (
        |  SELECT k, CAST(1 AS BIGINT) AS vf, CAST(1 AS BIGINT) AS tx,
        |    true AS alive, o_totalprice AS price
        |  FROM o
        |  UNION ALL
        |  SELECT k, 1, 2, true, round(o_totalprice + 1.0, 2)
        |  FROM o WHERE k % 9 = 0
        |  UNION ALL
        |  SELECT k, 2, 2, true, round(o_totalprice + 50.0, 2)
        |  FROM o WHERE k % 9 = 3
        |  UNION ALL
        |  SELECT k, 2, 3, true, round(o_totalprice + 75.0, 2)
        |  FROM o WHERE k % 9 = 6
        |  UNION ALL
        |  SELECT k, 3, 3, false, CAST(NULL AS DOUBLE)
        |  FROM o WHERE k % 9 = 7),
        |grid AS (
        |  SELECT CAST(t.i AS BIGINT) AS T, CAST(v.i AS BIGINT) AS V
        |  FROM generate_series(1, 3) t(i), generate_series(1, 3) v(i)),
        |w AS (
        |  SELECT g.T, g.V, l.k, l.alive, l.price,
        |    row_number() OVER (PARTITION BY g.T, g.V, l.k
        |      ORDER BY l.vf DESC, l.tx DESC) AS rn
        |  FROM grid g JOIN led l ON l.tx <= g.T AND l.vf <= g.V)
        |SELECT T, V, CAST(count(*) AS BIGINT) AS n_keys,
        |  round(sum(price), 2) AS sum_price
        |FROM w WHERE rn = 1 AND alive
        |GROUP BY 1, 2
        |ORDER BY T, V""".stripMargin,

    // q177: HyperBall replayed — the q69 edge CTEs, the q82 mixer with
    // 6 bucket bits, and each propagation round unrolled as a
    // register-wise max-merge; the exact column iterates reachable
    // pairs from the 64-smallest-id PROBE set only (the engine's q126
    // probe discipline — the full pair set is the Θ(|V|²) object the
    // sketch exists to avoid). Estimates (full-graph AND probe-scoped,
    // not just the exact twin) must match bit-for-bit; err_pct rides
    // the VARCHAR→DECIMAL(30,12) round-trip so DuckDB reproduces
    // Spark's shortest-string round() on the quotient (the q199 class).
    "q177_hll_reach" ->
      s"""WITH cp AS (
        |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |capped AS (
        |  SELECT c, p FROM (
        |    SELECT c, p, count(*) OVER (PARTITION BY p) AS df FROM cp)
        |  WHERE df <= 18),
        |ed AS (
        |  SELECT DISTINCT x.c AS u, y.c AS v
        |  FROM capped x JOIN capped y ON x.p = y.p AND x.c < y.c),
        |bi AS (SELECT u, v FROM ed UNION ALL SELECT v, u FROM ed),
        |verts AS (SELECT DISTINCT u AS v FROM bi),
        |hh AS (
        |  SELECT v,
        |    (1566083941 * ((m1 * m1) % 2147483647) + m1) % 2147483647 AS h
        |  FROM (
        |    SELECT v,
        |      (506952114 * ((v % 2147483647 + 2147483647) % 2147483647)
        |        + 1013904223) % 2147483647 AS m1
        |    FROM verts)),
        |r0 AS (
        |  SELECT v, h & 63 AS bucket,
        |    26 - CASE WHEN (h >> 6) = 0 THEN 0
        |              ELSE length(bin(h >> 6)) END AS reg
        |  FROM hh),
        |r1 AS (
        |  SELECT v, bucket, max(reg) AS reg FROM (
        |    SELECT * FROM r0
        |    UNION ALL
        |    SELECT bi.u AS v, r.bucket, r.reg FROM bi JOIN r0 r ON r.v = bi.v)
        |  GROUP BY 1, 2),
        |r2 AS (
        |  SELECT v, bucket, max(reg) AS reg FROM (
        |    SELECT * FROM r1
        |    UNION ALL
        |    SELECT bi.u AS v, r.bucket, r.reg FROM bi JOIN r1 r ON r.v = bi.v)
        |  GROUP BY 1, 2),
        |r3 AS (
        |  SELECT v, bucket, max(reg) AS reg FROM (
        |    SELECT * FROM r2
        |    UNION ALL
        |    SELECT bi.u AS v, r.bucket, r.reg FROM bi JOIN r2 r ON r.v = bi.v)
        |  GROUP BY 1, 2),
        |regs AS (
        |  SELECT CAST(0 AS BIGINT) AS h, * FROM r0
        |  UNION ALL SELECT 1, * FROM r1
        |  UNION ALL SELECT 2, * FROM r2
        |  UNION ALL SELECT 3, * FROM r3),
        |sk AS (
        |  SELECT h, v, count(*) AS used,
        |    sum(1::BIGINT << (26 - reg)) AS s_part
        |  FROM regs GROUP BY 1, 2),
        |balls AS (
        |  SELECT h, v,
        |    CAST(round(CASE WHEN raw <= 160.0 AND used < 64
        |         THEN 64.0 * ln(64.0 / CAST(64 - used AS DOUBLE))
        |         ELSE raw END) AS BIGINT) AS est_ball
        |  FROM (
        |    SELECT h, v, used,
        |      ${java.lang.Double.toString(graft.graph.HyperBall.AlphaNum)}
        |        / CAST(s_part + (64 - used) * 67108864 AS DOUBLE) AS raw
        |    FROM sk)),
        |est AS (
        |  SELECT h, CAST(sum(est_ball) AS BIGINT) AS est_reach
        |  FROM balls GROUP BY 1),
        |probes AS (SELECT v FROM verts ORDER BY v LIMIT 64),
        |pe AS (
        |  SELECT h, CAST(sum(est_ball) AS BIGINT) AS probe_est
        |  FROM balls JOIN probes USING (v) GROUP BY 1),
        |p0 AS (SELECT v AS a, v AS b FROM probes),
        |p1 AS (
        |  SELECT DISTINCT a, b FROM (
        |    SELECT * FROM p0
        |    UNION ALL
        |    SELECT p.a, bi.v AS b FROM p0 p JOIN bi ON bi.u = p.b)),
        |p2 AS (
        |  SELECT DISTINCT a, b FROM (
        |    SELECT * FROM p1
        |    UNION ALL
        |    SELECT p.a, bi.v AS b FROM p1 p JOIN bi ON bi.u = p.b)),
        |p3 AS (
        |  SELECT DISTINCT a, b FROM (
        |    SELECT * FROM p2
        |    UNION ALL
        |    SELECT p.a, bi.v AS b FROM p2 p JOIN bi ON bi.u = p.b)),
        |ex AS (
        |  SELECT CAST(0 AS BIGINT) AS h,
        |    CAST((SELECT count(*) FROM p0) AS BIGINT) AS probe_exact
        |  UNION ALL SELECT 1, (SELECT count(*) FROM p1)
        |  UNION ALL SELECT 2, (SELECT count(*) FROM p2)
        |  UNION ALL SELECT 3, (SELECT count(*) FROM p3))
        |SELECT est.h, est.est_reach, pe.probe_est, ex.probe_exact,
        |  CAST(round(CAST(CAST((pe.probe_est - ex.probe_exact) * 100.0
        |      / ex.probe_exact AS VARCHAR) AS DECIMAL(30,12)), 4)
        |    AS DOUBLE) AS err_pct
        |FROM est JOIN ex ON ex.h = est.h JOIN pe ON pe.h = est.h
        |ORDER BY est.h""".stripMargin,

    // q178: the q57 damped-round helper verbatim over the SQL-rebuilt
    // word co-occurrence graph — candidate filter, adjacent pairing,
    // and 5 unrolled PageRank rounds all mirrored.
    "q178_textrank" -> {
      def round(prev: String, next: String): String =
        s"""|$next AS (
            |  SELECT v.id,
            |         (1.0 - CAST(0.85 AS DOUBLE)) / nn.n
            |         + CAST(0.85 AS DOUBLE) * (coalesce(c.in_c, 0.0) + d.dang / nn.n) AS r
            |  FROM v CROSS JOIN nn
            |  CROSS JOIN (SELECT coalesce(sum(p.r), 0.0) AS dang
            |              FROM $prev p LEFT JOIN od ON od.id = p.id
            |              WHERE od.deg IS NULL) d
            |  LEFT JOIN (SELECT e.dst AS id, sum(p.r / od.deg) AS in_c
            |             FROM e JOIN $prev p ON p.id = e.src
            |             JOIN od ON od.id = e.src
            |             GROUP BY e.dst) c ON c.id = v.id)""".stripMargin
      s"""WITH tk AS (
         |  SELECT list_transform(
         |    list_filter(string_split(text, ' '),
         |      x -> regexp_full_match(x, '[A-Za-z]{3,}')),
         |    x -> lower(x)) AS w
         |  FROM documents),
         |pairs AS (
         |  SELECT w[i + 1] AS a, w[i + 2] AS b
         |  FROM (SELECT w FROM tk WHERE len(w) >= 2),
         |    unnest(range(0, len(w) - 1)) AS u(i)),
         |ed AS (
         |  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
         |  FROM pairs WHERE a <> b),
         |e AS (SELECT u AS src, v AS dst FROM ed
         |      UNION ALL SELECT v, u FROM ed),
         |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v),
         |od AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY 1),
         |pr0 AS (SELECT id, 1.0 / nn.n AS r FROM v CROSS JOIN nn),
         |${round("pr0", "pr1")},
         |${round("pr1", "pr2")},
         |${round("pr2", "pr3")},
         |${round("pr3", "pr4")},
         |${round("pr4", "pr5")}
         |SELECT id AS word, round(r, 8) AS rank FROM pr5
         |ORDER BY rank DESC, word LIMIT 20""".stripMargin
    },

    // q179: the greedy MMR trajectory unrolled — candidate top-12 via
    // the q26 cosine fold, then six argmax steps, each discounting by
    // max similarity to the selected prefix. The λ arithmetic mirrors
    // the engine operation-for-operation ((1.0 - 0.7) computed, not
    // written as 0.3 — IEEE says they differ).
    "q179_mmr" -> {
      def step(t: Int): String =
        s"""|st$t AS (
            |  SELECT c.id, c.rel,
            |    CAST(0.7 AS DOUBLE) * c.rel
            |      - (1.0 - CAST(0.7 AS DOUBLE)) * m.ms AS score
            |  FROM cand c
            |  JOIN (SELECT a AS id, max(sim) AS ms FROM sims
            |        WHERE b IN (SELECT id FROM sel${t - 1}) GROUP BY a) m
            |    USING (id)
            |  WHERE c.id NOT IN (SELECT id FROM sel${t - 1})),
            |pk$t AS (
            |  SELECT CAST($t AS BIGINT) AS rank, id, rel, score
            |  FROM st$t ORDER BY round(score, 6) DESC, id LIMIT 1),
            |sel$t AS (SELECT * FROM sel${t - 1} UNION ALL SELECT * FROM pk$t)""".stripMargin
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |n AS (
         |  SELECT vec_id, v,
         |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(v, x -> x * x)), (s, x) -> s + x)) AS nrm
         |  FROM e),
         |q AS (SELECT v AS qv, nrm AS qn FROM n WHERE vec_id = 1),
         |cand AS (
         |  SELECT id, v, nrm, rel FROM (
         |    SELECT n.vec_id AS id, n.v, n.nrm,
         |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |        list_transform(range(1, len(qv) + 1), i -> qv[i] * v[i])),
         |        (s, x) -> s + x) / (qn * nrm) AS rel
         |    FROM n, q WHERE n.vec_id <> 1)
         |  ORDER BY round(rel, 6) DESC, id LIMIT 12),
         |sims AS (
         |  SELECT x.id AS a, y.id AS b,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(range(1, len(x.v) + 1), i -> x.v[i] * y.v[i])),
         |      (s, x) -> s + x) / (x.nrm * y.nrm) AS sim
         |  FROM cand x JOIN cand y ON x.id <> y.id),
         |pk1 AS (
         |  SELECT CAST(1 AS BIGINT) AS rank, id, rel,
         |    CAST(0.7 AS DOUBLE) * rel AS score
         |  FROM cand
         |  ORDER BY round(CAST(0.7 AS DOUBLE) * rel, 6) DESC, id LIMIT 1),
         |sel1 AS (SELECT * FROM pk1),
         |${step(2)},
         |${step(3)},
         |${step(4)},
         |${step(5)},
         |${step(6)}
         |SELECT rank, id AS doc_id, round(rel, 4) AS relevance,
         |  round(score, 4) AS mmr_score
         |FROM sel6 ORDER BY rank""".stripMargin
    },

    // q180: the CUPED moments replayed in HUGEINT — exact integer
    // arithmetic up to the same final double ratios as the engine's
    // DECIMAL(38,0) path, so theta matches bit-for-bit.
    "q180_cuped" ->
      """WITH u AS (
        |  SELECT user_id, user_id % 2 AS arm,
        |    coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
        |      THEN CAST(round(value * 100) AS BIGINT) END), 0) AS x,
        |    coalesce(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
        |      THEN CAST(round(value * 100) AS BIGINT) END), 0) AS y
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |p AS (
        |  SELECT count(*) AS n,
        |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM u),
        |t AS (
        |  SELECT n, CAST(sx AS DOUBLE) AS sxd,
        |    CAST(n * sxy - sx * sy AS DOUBLE) AS cov_n,
        |    CAST(n * sxx - sx * sx AS DOUBLE) AS varx_n,
        |    CAST(n * syy - sy * sy AS DOUBLE) AS vary_n
        |  FROM p),
        |th AS (
        |  SELECT n, sxd,
        |    CASE WHEN varx_n = 0.0 THEN 0.0
        |         ELSE cov_n / varx_n END AS theta,
        |    CASE WHEN varx_n = 0.0 OR vary_n = 0.0 THEN 0.0
        |         ELSE cov_n * cov_n / (varx_n * vary_n) END AS rho2
        |  FROM t),
        |a AS (
        |  SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
        |    sum(CAST(x AS HUGEINT)) AS sxa, sum(CAST(y AS HUGEINT)) AS sya
        |  FROM u GROUP BY 1)
        |SELECT arm, n_users,
        |  round(CAST(sya AS DOUBLE) / n_users / 100.0, 4) AS mean_post,
        |  round((CAST(sya AS DOUBLE) / n_users
        |    - theta * (CAST(sxa AS DOUBLE) / n_users - sxd / n)) / 100.0,
        |    4) AS mean_adjusted,
        |  round(theta, 6) AS theta, round(rho2, 6) AS rho2
        |FROM a CROSS JOIN th ORDER BY arm""".stripMargin,

    // q181: the conformal trajectory replayed — HUGEINT OLS moments,
    // the same residual doubles, and rank k extracted by a global
    // row_number (vs the engine's bucketed prefix-sum selection: two
    // mechanisms, one order statistic).
    "q181_conformal" ->
      """WITH o AS (
        |  SELECT o_orderkey % 3 AS split,
        |    datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS x,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS y
        |  FROM orders),
        |tr AS (
        |  SELECT count(*) AS n,
        |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy
        |  FROM o WHERE split = 0),
        |f1 AS (
        |  SELECT n,
        |    CAST(n * sxy - sx * sy AS DOUBLE)
        |      / CAST(n * sxx - sx * sx AS DOUBLE) AS b,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
        |  FROM tr),
        |fit AS (
        |  SELECT CAST(n AS BIGINT) AS n_train, b,
        |    (syd - b * sxd) / n AS a
        |  FROM f1),
        |cal AS (
        |  SELECT abs(CAST(y AS DOUBLE) - (a + b * CAST(x AS DOUBLE))) AS r
        |  FROM o CROSS JOIN fit WHERE split = 1),
        |kk AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_cal,
        |    CAST(ceil((count(*) + 1) * 0.9) AS BIGINT) AS k
        |  FROM cal),
        |qh AS (
        |  SELECT r AS q_hat FROM (
        |    SELECT r, row_number() OVER (ORDER BY r) AS rn FROM cal), kk
        |  WHERE rn = k),
        |tst AS (
        |  SELECT abs(CAST(y AS DOUBLE) - (a + b * CAST(x AS DOUBLE))) AS r
        |  FROM o CROSS JOIN fit WHERE split = 2),
        |cov AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_test,
        |    CAST(sum(CASE WHEN r <= q_hat THEN 1 ELSE 0 END) AS BIGINT) AS n_in
        |  FROM tst CROSS JOIN qh)
        |SELECT n_train, n_cal, n_test,
        |  round(b, 6) AS slope_cents_per_day,
        |  round(a / 100.0, 4) AS intercept,
        |  round(q_hat / 100.0, 4) AS q_hat,
        |  round(CAST(n_in AS DOUBLE) / n_test, 4) AS coverage
        |FROM fit CROSS JOIN kk CROSS JOIN qh CROSS JOIN cov""".stripMargin,

    // q182: the temporal-reachability iteration unrolled — handoff
    // edges from the same (type, day)-partitioned lag, then four
    // min-merge relaxation rounds gated on t >= arrival.
    "q182_temporal_reach" -> {
      def round(prev: String, next: String): String =
        s"""|$next AS (
            |  SELECT u, min(t) AS t FROM (
            |    SELECT * FROM $prev
            |    UNION ALL
            |    SELECT e.dst AS u, e.t
            |    FROM ed e JOIN $prev p ON p.u = e.src AND e.t >= p.t)
            |  GROUP BY u)""".stripMargin
      s"""WITH ev AS (
         |  SELECT event_id, ts, user_id, event_type FROM events
         |  WHERE user_id IS NOT NULL),
         |ed AS (
         |  SELECT src, user_id AS dst, ts AS t FROM (
         |    SELECT user_id, ts,
         |      lag(user_id) OVER (PARTITION BY event_type, CAST(ts AS DATE)
         |        ORDER BY ts, event_id) AS src
         |    FROM ev)
         |  WHERE src IS NOT NULL AND src <> user_id),
         |a0 AS (SELECT user_id AS u, ts AS t FROM ev
         |       ORDER BY ts, event_id LIMIT 1),
         |${round("a0", "a1")},
         |${round("a1", "a2")},
         |${round("a2", "a3")},
         |${round("a3", "a4")}
         |SELECT u AS user_id, t AS arrival FROM a4
         |ORDER BY user_id""".stripMargin
    },

    // q183: q177's register replay without the exact pair iteration —
    // the estimate columns must still match bit-for-bit.
    "q183_hll_reach_sketch" ->
      s"""WITH cp AS (
        |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |capped AS (
        |  SELECT c, p FROM (
        |    SELECT c, p, count(*) OVER (PARTITION BY p) AS df FROM cp)
        |  WHERE df <= 18),
        |ed AS (
        |  SELECT DISTINCT x.c AS u, y.c AS v
        |  FROM capped x JOIN capped y ON x.p = y.p AND x.c < y.c),
        |bi AS (SELECT u, v FROM ed UNION ALL SELECT v, u FROM ed),
        |verts AS (SELECT DISTINCT u AS v FROM bi),
        |hh AS (
        |  SELECT v,
        |    (1566083941 * ((m1 * m1) % 2147483647) + m1) % 2147483647 AS h
        |  FROM (
        |    SELECT v,
        |      (506952114 * ((v % 2147483647 + 2147483647) % 2147483647)
        |        + 1013904223) % 2147483647 AS m1
        |    FROM verts)),
        |r0 AS (
        |  SELECT v, h & 63 AS bucket,
        |    26 - CASE WHEN (h >> 6) = 0 THEN 0
        |              ELSE length(bin(h >> 6)) END AS reg
        |  FROM hh),
        |r1 AS (
        |  SELECT v, bucket, max(reg) AS reg FROM (
        |    SELECT * FROM r0
        |    UNION ALL
        |    SELECT bi.u AS v, r.bucket, r.reg FROM bi JOIN r0 r ON r.v = bi.v)
        |  GROUP BY 1, 2),
        |r2 AS (
        |  SELECT v, bucket, max(reg) AS reg FROM (
        |    SELECT * FROM r1
        |    UNION ALL
        |    SELECT bi.u AS v, r.bucket, r.reg FROM bi JOIN r1 r ON r.v = bi.v)
        |  GROUP BY 1, 2),
        |r3 AS (
        |  SELECT v, bucket, max(reg) AS reg FROM (
        |    SELECT * FROM r2
        |    UNION ALL
        |    SELECT bi.u AS v, r.bucket, r.reg FROM bi JOIN r2 r ON r.v = bi.v)
        |  GROUP BY 1, 2),
        |regs AS (
        |  SELECT CAST(0 AS BIGINT) AS h, * FROM r0
        |  UNION ALL SELECT 1, * FROM r1
        |  UNION ALL SELECT 2, * FROM r2
        |  UNION ALL SELECT 3, * FROM r3),
        |sk AS (
        |  SELECT h, v, count(*) AS used,
        |    sum(1::BIGINT << (26 - reg)) AS s_part
        |  FROM regs GROUP BY 1, 2),
        |balls AS (
        |  SELECT h,
        |    CAST(round(CASE WHEN raw <= 160.0 AND used < 64
        |         THEN 64.0 * ln(64.0 / CAST(64 - used AS DOUBLE))
        |         ELSE raw END) AS BIGINT) AS est_ball
        |  FROM (
        |    SELECT h, used,
        |      ${java.lang.Double.toString(graft.graph.HyperBall.AlphaNum)}
        |        / CAST(s_part + (64 - used) * 67108864 AS DOUBLE) AS raw
        |    FROM sk))
        |SELECT h, CAST(sum(est_ball) AS BIGINT) AS est_reach
        |FROM balls GROUP BY 1
        |ORDER BY h""".stripMargin,

    // q184: the KM life table replayed — the same reverse-cumulative
    // risk sets, the same IEEE-exact 1 - d/n factors, and the survival
    // product as the identical ascending-ordered list fold (the
    // q32/q89 fold-mirror trick), so every double matches bit-for-bit.
    "q184_km_survival" ->
      """WITH horizon AS (SELECT max(ts) AS end_ts FROM events),
        |u AS (
        |  SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |obs AS (
        |  SELECT CAST(datediff('day', CAST(first_ts AS DATE),
        |      CAST(last_ts AS DATE)) AS BIGINT) AS duration_days,
        |    last_ts < end_ts - INTERVAL 7 DAY AS churned
        |  FROM u CROSS JOIN horizon),
        |g AS (
        |  SELECT duration_days, CAST(count(*) AS BIGINT) AS n_at,
        |    CAST(coalesce(sum(CASE WHEN churned THEN 1 END), 0) AS BIGINT)
        |      AS n_churn
        |  FROM obs GROUP BY 1),
        |r AS (
        |  SELECT duration_days, n_at, n_churn,
        |    CAST(sum(n_at) OVER (ORDER BY duration_days DESC) AS BIGINT)
        |      AS n_risk
        |  FROM g),
        |f AS (
        |  SELECT duration_days, n_risk, n_churn, n_at,
        |    CAST(1 AS DOUBLE)
        |      - CAST(n_churn AS DOUBLE) / CAST(n_risk AS DOUBLE) AS factor
        |  FROM r),
        |l AS (
        |  SELECT list(struct_pack(duration_days := duration_days,
        |      n_risk := n_risk, n_churn := n_churn, n_at := n_at,
        |      factor := factor) ORDER BY duration_days) AS fs
        |  FROM f)
        |SELECT fs[i].duration_days AS duration_days, fs[i].n_risk AS n_risk,
        |  fs[i].n_churn AS n_churn,
        |  fs[i].n_at - fs[i].n_churn AS n_censored,
        |  round(list_reduce(list_prepend(CAST(1 AS DOUBLE),
        |    list_transform(list_slice(fs, 1, i), x -> x.factor)),
        |    (a, b) -> a * b), 6) AS survival
        |FROM l, unnest(range(1, len(fs) + 1)) AS t(i)
        |ORDER BY duration_days""".stripMargin,

    // q185: the jackknife replayed — HUGEINT cell sums, the identical
    // bucket-ordered leave-one-out folds, IEEE sqrt; doubles match
    // bit-for-bit.
    "q185_jackknife_ci" ->
      """WITH cells AS (
        |  SELECT o_orderpriority AS grp,
        |    CAST(o_orderkey % 32 AS INTEGER) AS b,
        |    CAST(count(*) AS BIGINT) AS n_b,
        |    sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT))
        |      AS s_b
        |  FROM orders GROUP BY 1, 2),
        |byg AS (
        |  SELECT grp, CAST(sum(n_b) AS BIGINT) AS n, sum(s_b) AS s,
        |    CAST(count(*) AS BIGINT) AS n_buckets,
        |    list(struct_pack(b := b, n_b := n_b, s_b := s_b) ORDER BY b)
        |      AS cells
        |  FROM cells GROUP BY 1),
        |th AS (
        |  SELECT grp, n, n_buckets,
        |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS theta,
        |    list_transform(cells, c -> CAST(s - c.s_b AS DOUBLE)
        |      / CAST(n - c.n_b AS DOUBLE)) AS thetas
        |  FROM byg),
        |tb AS (
        |  SELECT grp, n, n_buckets, theta, thetas,
        |    CASE WHEN n_buckets >= 2 THEN
        |      list_reduce(list_prepend(CAST(0 AS DOUBLE), thetas),
        |        (a, x) -> a + x) / CAST(n_buckets AS DOUBLE)
        |    ELSE theta END AS theta_bar
        |  FROM th),
        |se AS (
        |  SELECT grp, n, n_buckets, theta,
        |    CASE WHEN n_buckets >= 2 THEN
        |      sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(thetas,
        |          t -> (t - theta_bar) * (t - theta_bar))),
        |        (a, x) -> a + x)
        |        * CAST(n_buckets - 1 AS DOUBLE)
        |        / CAST(n_buckets AS DOUBLE))
        |    ELSE CAST(0 AS DOUBLE) END AS se
        |  FROM tb)
        |SELECT grp, n AS n_rows, n_buckets,
        |  round(theta / 100.0, 4) AS mean_value,
        |  round(se / 100.0, 6) AS jack_se,
        |  round((theta - CAST(1.96 AS DOUBLE) * se) / 100.0, 4) AS ci_lo,
        |  round((theta + CAST(1.96 AS DOUBLE) * se) / 100.0, 4) AS ci_hi
        |FROM se ORDER BY grp""".stripMargin,

    // q186: the Shapley lattice replayed — the same bitmask collapse,
    // v(S) by subset containment over the 2^k grid, exact integer
    // factorial weights, and doubles only at the final two ratios.
    "q186_shapley_credit" ->
      """WITH conv AS (
        |  SELECT user_id, min(ts) AS conv_ts FROM events
        |  WHERE user_id IS NOT NULL AND event_type = 'purchase'
        |  GROUP BY 1),
        |touch AS (
        |  SELECT DISTINCT e.user_id, e.event_type AS channel
        |  FROM events e JOIN conv c ON e.user_id = c.user_id
        |  WHERE e.event_type <> 'purchase' AND e.ts < c.conv_ts),
        |chan AS (
        |  SELECT channel,
        |    CAST(row_number() OVER (ORDER BY channel) - 1 AS INTEGER) AS idx
        |  FROM (SELECT DISTINCT channel FROM touch)),
        |kk AS (SELECT CAST(count(*) AS INTEGER) AS k FROM chan),
        |um AS (
        |  SELECT t.user_id, sum(CAST(1 AS BIGINT) << c.idx) AS mask
        |  FROM touch t JOIN chan c ON t.channel = c.channel GROUP BY 1),
        |mc AS (
        |  SELECT mask, CAST(count(*) AS BIGINT) AS n_conv
        |  FROM um GROUP BY 1),
        |grid AS (
        |  SELECT CAST(g.coal AS BIGINT) AS coal
        |  FROM range(0, 65536) g(coal), kk
        |  WHERE g.coal < (CAST(1 AS BIGINT) << kk.k)),
        |v AS (
        |  SELECT coal, CAST(coalesce(sum(n_conv), 0) AS BIGINT) AS v
        |  FROM grid LEFT JOIN mc ON (mc.mask & grid.coal) = mc.mask
        |  GROUP BY 1),
        |num AS (
        |  SELECT c.channel,
        |    CAST(sum(CAST(factorial(bit_count(v0.coal)) AS BIGINT)
        |      * CAST(factorial(k.k - 1 - bit_count(v0.coal)) AS BIGINT)
        |      * (v1.v - v0.v)) AS BIGINT) AS phi_num
        |  FROM chan c
        |  CROSS JOIN kk k
        |  JOIN v v0 ON (v0.coal & (CAST(1 AS BIGINT) << c.idx)) = 0
        |  JOIN v v1 ON v1.coal = (v0.coal | (CAST(1 AS BIGINT) << c.idx))
        |  GROUP BY 1),
        |vf AS (SELECT max(v) AS v_full FROM v),
        |kf AS (SELECT CAST(factorial(k) AS DOUBLE) AS kfd FROM kk)
        |SELECT channel, phi_num, v_full,
        |  round(CAST(phi_num AS DOUBLE) / kfd, 6) AS phi,
        |  round(CAST(phi_num AS DOUBLE)
        |    / (kfd * CAST(v_full AS DOUBLE)), 6) AS share_of_conversions
        |FROM num, kf, vf ORDER BY channel""".stripMargin,

    // q187: the q183 register propagation kept at (hop, vertex) grain,
    // then the harmonic sum as the exact lcm(1..3)-scaled integer
    // numerator — estimates AND ranking replay bit-for-bit.
    "q187_harmonic" ->
      s"""WITH cp AS (
         |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |capped AS (
         |  SELECT c, p FROM (
         |    SELECT c, p, count(*) OVER (PARTITION BY p) AS df FROM cp)
         |  WHERE df <= 18),
         |ed AS (
         |  SELECT DISTINCT x.c AS u, y.c AS v
         |  FROM capped x JOIN capped y ON x.p = y.p AND x.c < y.c),
         |bi AS (SELECT u, v FROM ed UNION ALL SELECT v, u FROM ed),
         |verts AS (SELECT DISTINCT u AS v FROM bi),
         |hh AS (
         |  SELECT v,
         |    (1566083941 * ((m1 * m1) % 2147483647) + m1) % 2147483647 AS h
         |  FROM (
         |    SELECT v,
         |      (506952114 * ((v % 2147483647 + 2147483647) % 2147483647)
         |        + 1013904223) % 2147483647 AS m1
         |    FROM verts)),
         |r0 AS (
         |  SELECT v, h & 63 AS bucket,
         |    26 - CASE WHEN (h >> 6) = 0 THEN 0
         |              ELSE length(bin(h >> 6)) END AS reg
         |  FROM hh),
         |r1 AS (
         |  SELECT v, bucket, max(reg) AS reg FROM (
         |    SELECT * FROM r0
         |    UNION ALL
         |    SELECT bi.u AS v, r.bucket, r.reg FROM bi JOIN r0 r ON r.v = bi.v)
         |  GROUP BY 1, 2),
         |r2 AS (
         |  SELECT v, bucket, max(reg) AS reg FROM (
         |    SELECT * FROM r1
         |    UNION ALL
         |    SELECT bi.u AS v, r.bucket, r.reg FROM bi JOIN r1 r ON r.v = bi.v)
         |  GROUP BY 1, 2),
         |r3 AS (
         |  SELECT v, bucket, max(reg) AS reg FROM (
         |    SELECT * FROM r2
         |    UNION ALL
         |    SELECT bi.u AS v, r.bucket, r.reg FROM bi JOIN r2 r ON r.v = bi.v)
         |  GROUP BY 1, 2),
         |regs AS (
         |  SELECT CAST(0 AS BIGINT) AS hop, * FROM r0
         |  UNION ALL SELECT 1, * FROM r1
         |  UNION ALL SELECT 2, * FROM r2
         |  UNION ALL SELECT 3, * FROM r3),
         |sk AS (
         |  SELECT hop, v, count(*) AS used,
         |    sum(1::BIGINT << (26 - reg)) AS s_part
         |  FROM regs GROUP BY 1, 2),
         |balls AS (
         |  SELECT hop, v,
         |    CAST(round(CASE WHEN raw <= 160.0 AND used < 64
         |         THEN 64.0 * ln(64.0 / CAST(64 - used AS DOUBLE))
         |         ELSE raw END) AS BIGINT) AS est_ball
         |  FROM (
         |    SELECT hop, v, used,
         |      ${java.lang.Double.toString(graft.graph.HyperBall.AlphaNum)}
         |        / CAST(s_part + (64 - used) * 67108864 AS DOUBLE) AS raw
         |    FROM sk)),
         |pv AS (
         |  SELECT v,
         |    max(CASE WHEN hop = 0 THEN est_ball END) AS e0,
         |    max(CASE WHEN hop = 1 THEN est_ball END) AS e1,
         |    max(CASE WHEN hop = 2 THEN est_ball END) AS e2,
         |    max(CASE WHEN hop = 3 THEN est_ball END) AS e3
         |  FROM balls GROUP BY 1),
         |hn AS (
         |  SELECT v, e3 AS est_reach,
         |    6 * greatest(e1 - e0, 0) + 3 * greatest(e2 - e1, 0)
         |      + 2 * greatest(e3 - e2, 0) AS h_num
         |  FROM pv)
         |SELECT v, est_reach, h_num,
         |  round(CAST(h_num AS DOUBLE) / CAST(6 AS DOUBLE), 4) AS harmonic
         |FROM hn ORDER BY h_num DESC, v LIMIT 20""".stripMargin,

    // q188: the FS model replayed — the q164 registry, the same three
    // blocks (weak block cap included), exact counted m/u with add-one
    // smoothing, and the likelihood-ratio product in the identical
    // field order (no logs anywhere — see FellegiSunter's header).
    "q188_fs_linkage" ->
      """WITH c AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k, c_name, c_acctbal,
        |    c_mktsegment
        |  FROM customer),
        |recs AS (
        |  SELECT k * 4 AS rid, k AS entity,
        |    'e' || CAST(k AS VARCHAR) AS email,
        |    'p' || CAST(k AS VARCHAR) AS phone, c_name AS name,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
        |    c_mktsegment AS seg
        |  FROM c
        |  UNION ALL
        |  SELECT k * 4 + 1, k, 'e' || CAST(k AS VARCHAR),
        |    'px' || CAST(k AS VARCHAR), upper(c_name),
        |    CAST(NULL AS BIGINT), c_mktsegment
        |  FROM c WHERE k % 3 = 0
        |  UNION ALL
        |  SELECT k * 4 + 2, k, 'ex' || CAST(k AS VARCHAR),
        |    'px' || CAST(k AS VARCHAR), c_name || ' JR',
        |    CAST(round(round(c_acctbal + 5.0, 2) * 100) AS BIGINT),
        |    'MACHINERY'
        |  FROM c WHERE k % 6 = 0),
        |hp AS (
        |  SELECT a.rid AS id_a, b.rid AS id_b
        |  FROM recs a JOIN recs b ON a.email = b.email AND a.rid < b.rid
        |  UNION
        |  SELECT a.rid, b.rid
        |  FROM recs a JOIN recs b ON a.phone = b.phone AND a.rid < b.rid),
        |wk AS (SELECT rid // 8 AS wblock, rid FROM recs),
        |wok AS (
        |  SELECT wblock FROM wk GROUP BY 1 HAVING count(*) <= 40),
        |wp AS (
        |  SELECT a.rid AS id_a, b.rid AS id_b
        |  FROM wk a JOIN wok o ON a.wblock = o.wblock
        |  JOIN wk b ON b.wblock = o.wblock AND a.rid < b.rid),
        |pairs AS (SELECT id_a, id_b FROM hp UNION SELECT id_a, id_b FROM wp),
        |cmp AS (
        |  SELECT a.name = b.name AS a_name,
        |    a.cents IS NOT NULL AND b.cents IS NOT NULL
        |      AND abs(a.cents - b.cents) <= 1000 AS a_bal,
        |    a.seg = b.seg AS a_seg,
        |    a.entity = b.entity AS is_match
        |  FROM pairs p JOIN recs a ON a.rid = p.id_a
        |  JOIN recs b ON b.rid = p.id_b),
        |mu AS (
        |  SELECT
        |    CAST(coalesce(sum(CASE WHEN is_match THEN 1 END), 0) AS BIGINT) AS nm,
        |    CAST(coalesce(sum(CASE WHEN NOT is_match THEN 1 END), 0) AS BIGINT) AS nu,
        |    CAST(coalesce(sum(CASE WHEN is_match AND a_name THEN 1 END), 0) AS BIGINT) AS m_name_c,
        |    CAST(coalesce(sum(CASE WHEN NOT is_match AND a_name THEN 1 END), 0) AS BIGINT) AS u_name_c,
        |    CAST(coalesce(sum(CASE WHEN is_match AND a_bal THEN 1 END), 0) AS BIGINT) AS m_bal_c,
        |    CAST(coalesce(sum(CASE WHEN NOT is_match AND a_bal THEN 1 END), 0) AS BIGINT) AS u_bal_c,
        |    CAST(coalesce(sum(CASE WHEN is_match AND a_seg THEN 1 END), 0) AS BIGINT) AS m_seg_c,
        |    CAST(coalesce(sum(CASE WHEN NOT is_match AND a_seg THEN 1 END), 0) AS BIGINT) AS u_seg_c
        |  FROM cmp),
        |pat AS (
        |  SELECT a_name, a_bal, a_seg, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(coalesce(sum(CASE WHEN is_match THEN 1 END), 0) AS BIGINT)
        |      AS n_match
        |  FROM cmp GROUP BY 1, 2, 3),
        |sc AS (
        |  SELECT a_name, a_bal, a_seg, n_pairs, n_match,
        |    round(
        |      (CASE WHEN a_name
        |        THEN (CAST(m_name_c + 1 AS DOUBLE) / CAST(nm + 2 AS DOUBLE))
        |          / (CAST(u_name_c + 1 AS DOUBLE) / CAST(nu + 2 AS DOUBLE))
        |        ELSE (CAST(1 AS DOUBLE) - CAST(m_name_c + 1 AS DOUBLE) / CAST(nm + 2 AS DOUBLE))
        |          / (CAST(1 AS DOUBLE) - CAST(u_name_c + 1 AS DOUBLE) / CAST(nu + 2 AS DOUBLE)) END)
        |      * (CASE WHEN a_bal
        |        THEN (CAST(m_bal_c + 1 AS DOUBLE) / CAST(nm + 2 AS DOUBLE))
        |          / (CAST(u_bal_c + 1 AS DOUBLE) / CAST(nu + 2 AS DOUBLE))
        |        ELSE (CAST(1 AS DOUBLE) - CAST(m_bal_c + 1 AS DOUBLE) / CAST(nm + 2 AS DOUBLE))
        |          / (CAST(1 AS DOUBLE) - CAST(u_bal_c + 1 AS DOUBLE) / CAST(nu + 2 AS DOUBLE)) END)
        |      * (CASE WHEN a_seg
        |        THEN (CAST(m_seg_c + 1 AS DOUBLE) / CAST(nm + 2 AS DOUBLE))
        |          / (CAST(u_seg_c + 1 AS DOUBLE) / CAST(nu + 2 AS DOUBLE))
        |        ELSE (CAST(1 AS DOUBLE) - CAST(m_seg_c + 1 AS DOUBLE) / CAST(nm + 2 AS DOUBLE))
        |          / (CAST(1 AS DOUBLE) - CAST(u_seg_c + 1 AS DOUBLE) / CAST(nu + 2 AS DOUBLE)) END),
        |      6) AS score
        |  FROM pat CROSS JOIN mu)
        |SELECT a_name, a_bal, a_seg, n_pairs, n_match, score,
        |  CASE WHEN score >= 100.0 THEN 'link'
        |       WHEN score >= 1.0 THEN 'possible'
        |       ELSE 'non-link' END AS verdict
        |FROM sc ORDER BY a_name, a_bal, a_seg""".stripMargin,

    // q189: the Qini readout replayed — the identical integer decile
    // cut ((10·cum + n − 1) // n over the score grain), integer cell
    // counts, and the same final double expression shapes.
    "q189_uplift_deciles" ->
      """WITH u AS (
        |  SELECT user_id AS unit_id,
        |    CAST(coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
        |      THEN 1 END), 0) AS BIGINT) AS score,
        |    user_id % 2 = 1 AS treated,
        |    coalesce(sum(CASE WHEN event_type = 'purchase'
        |      THEN 1 END), 0) > 0 AS converted
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM u),
        |sg AS (
        |  SELECT score, CAST(count(*) AS BIGINT) AS cnt FROM u GROUP BY 1),
        |sc AS (
        |  SELECT score,
        |    CAST(sum(cnt) OVER (ORDER BY score DESC) AS BIGINT) AS cum
        |  FROM sg),
        |dm AS (
        |  SELECT score, CAST((cum * 10 + n.n - 1) // n.n AS BIGINT) AS decile
        |  FROM sc CROSS JOIN n),
        |cells AS (
        |  SELECT decile,
        |    CAST(coalesce(sum(CASE WHEN treated THEN 1 END), 0) AS BIGINT) AS n_t,
        |    CAST(coalesce(sum(CASE WHEN treated AND converted THEN 1 END), 0) AS BIGINT) AS conv_t,
        |    CAST(coalesce(sum(CASE WHEN NOT treated THEN 1 END), 0) AS BIGINT) AS n_c,
        |    CAST(coalesce(sum(CASE WHEN NOT treated AND converted THEN 1 END), 0) AS BIGINT) AS conv_c
        |  FROM u JOIN dm ON u.score = dm.score GROUP BY 1),
        |cum AS (
        |  SELECT decile, n_t, n_c, conv_t, conv_c,
        |    CAST(sum(n_t) OVER (ORDER BY decile) AS BIGINT) AS cum_nt,
        |    CAST(sum(conv_t) OVER (ORDER BY decile) AS BIGINT) AS cum_ct,
        |    CAST(sum(n_c) OVER (ORDER BY decile) AS BIGINT) AS cum_nc,
        |    CAST(sum(conv_c) OVER (ORDER BY decile) AS BIGINT) AS cum_cc
        |  FROM cells)
        |SELECT decile, n_t, n_c,
        |  CASE WHEN n_t > 0 THEN
        |    CAST(round(CAST(CAST(CAST(conv_t AS DOUBLE) / CAST(n_t AS DOUBLE)
        |      AS VARCHAR) AS DECIMAL(30,12)), 6) AS DOUBLE)
        |  END AS rate_treated,
        |  CASE WHEN n_c > 0 THEN
        |    CAST(round(CAST(CAST(CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE)
        |      AS VARCHAR) AS DECIMAL(30,12)), 6) AS DOUBLE)
        |  END AS rate_control,
        |  CASE WHEN n_t > 0 AND n_c > 0 THEN
        |    CAST(round(CAST(CAST(CAST(conv_t AS DOUBLE) / CAST(n_t AS DOUBLE)
        |      - CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE)
        |      AS VARCHAR) AS DECIMAL(30,12)), 6) AS DOUBLE)
        |  END AS uplift,
        |  CASE WHEN cum_nc > 0 THEN
        |    CAST(round(CAST(CAST(CAST(cum_ct AS DOUBLE) - CAST(cum_cc AS DOUBLE)
        |      * CAST(cum_nt AS DOUBLE) / CAST(cum_nc AS DOUBLE)
        |      AS VARCHAR) AS DECIMAL(30,12)), 4) AS DOUBLE)
        |  END AS qini
        |FROM cum ORDER BY decile""".stripMargin,

    // q190: the release audit replayed — the same two-level aggregate
    // to QI classes, the same integer ladder rollup.
    "q190_k_anonymity" ->
      """WITH c AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |    c_mktsegment AS segment,
        |    CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS bal_band,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS sens
        |  FROM customer),
        |lvl1 AS (
        |  SELECT nation, segment, bal_band, sens,
        |    CAST(count(*) AS BIGINT) AS n_sv
        |  FROM c GROUP BY 1, 2, 3, 4),
        |cls AS (
        |  SELECT nation, segment, bal_band,
        |    CAST(sum(n_sv) AS BIGINT) AS class_size,
        |    CAST(count(*) AS BIGINT) AS n_sensitive_values
        |  FROM lvl1 GROUP BY 1, 2, 3),
        |ladder AS (SELECT CAST(k AS INTEGER) AS k
        |  FROM (VALUES (2), (5), (10), (25)) t(k))
        |SELECT k, CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(sum(class_size) AS BIGINT) AS n_rows,
        |  CAST(coalesce(sum(CASE WHEN class_size < k THEN 1 END), 0)
        |    AS BIGINT) AS classes_below_k,
        |  CAST(coalesce(sum(CASE WHEN class_size < k THEN class_size END),
        |    0) AS BIGINT) AS rows_below_k,
        |  CAST(coalesce(sum(CASE WHEN n_sensitive_values < 2 THEN 1 END),
        |    0) AS BIGINT) AS classes_failing_l2,
        |  round(CAST(coalesce(sum(CASE WHEN class_size < k
        |      THEN class_size END), 0) AS DOUBLE)
        |    / CAST(sum(class_size) AS DOUBLE), 6) AS reident_risk_share
        |FROM cls CROSS JOIN ladder GROUP BY k ORDER BY k""".stripMargin,

    // q191: the DiD cells replayed — HUGEINT sums, one exact division
    // per cell mean, the identical estimator/pre-trend double shapes.
    "q191_diff_in_diff" ->
      """WITH p AS (
        |  SELECT user_id % 2 = 1 AS treated,
        |    CASE WHEN ts < TIMESTAMP '2024-01-08' THEN 'pre1'
        |         WHEN ts < TIMESTAMP '2024-01-16' THEN 'pre2'
        |         ELSE 'post' END AS period,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE user_id IS NOT NULL),
        |cells AS (
        |  SELECT treated, period, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(cents AS HUGEINT)) AS s
        |  FROM p GROUP BY 1, 2),
        |m AS (
        |  SELECT treated, period,
        |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean, n
        |  FROM cells),
        |g AS (
        |  SELECT
        |    max(CASE WHEN treated AND period = 'pre1' THEN mean END) AS m_t_pre1,
        |    max(CASE WHEN treated AND period = 'pre2' THEN mean END) AS m_t_pre2,
        |    max(CASE WHEN treated AND period = 'post' THEN mean END) AS m_t_post,
        |    max(CASE WHEN NOT treated AND period = 'pre1' THEN mean END) AS m_c_pre1,
        |    max(CASE WHEN NOT treated AND period = 'pre2' THEN mean END) AS m_c_pre2,
        |    max(CASE WHEN NOT treated AND period = 'post' THEN mean END) AS m_c_post,
        |    CAST(sum(n) AS BIGINT) AS n_rows
        |  FROM m)
        |SELECT n_rows,
        |  round((m_t_post - m_t_pre2) / 100.0, 4) AS treated_change,
        |  round((m_c_post - m_c_pre2) / 100.0, 4) AS control_change,
        |  round(((m_t_post - m_t_pre2) - (m_c_post - m_c_pre2)) / 100.0, 4)
        |    AS did,
        |  round(((m_t_pre2 - m_t_pre1) - (m_c_pre2 - m_c_pre1)) / 100.0, 4)
        |    AS pretrend_gap
        |FROM g""".stripMargin,

    // q192: the ANOVA identity replayed — HUGEINT (n·s_g − n_g·S)²
    // numerators, per-group exact division, the SAME group-ordered
    // fold for the SSB sum (its ≤|groups| doubles sit at ~1e15 where
    // sum order is visible at 2 dp).
    "q192_anova_decomp" ->
      """WITH cells AS (
        |  SELECT o_orderpriority AS g, CAST(count(*) AS BIGINT) AS n_g,
        |    sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT))
        |      AS s_g,
        |    sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT)
        |      * CAST(round(o_totalprice * 100) AS BIGINT)) AS ss_g
        |  FROM orders GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(n_g) AS BIGINT) AS n, sum(s_g) AS s,
        |    sum(ss_g) AS ss, CAST(count(*) AS BIGINT) AS k
        |  FROM cells),
        |terms AS (
        |  SELECT g,
        |    CAST(n * s_g - n_g * s AS DOUBLE)
        |      * CAST(n * s_g - n_g * s AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n_g AS DOUBLE)) AS term
        |  FROM cells CROSS JOIN tot),
        |ssb AS (
        |  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list(term ORDER BY g)), (a, x) -> a + x) AS ssb_n
        |  FROM terms),
        |fin AS (
        |  SELECT n AS n_rows, k AS n_groups,
        |    CAST(n * ss - s * s AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0
        |      AS ss_total,
        |    ssb_n / CAST(n AS DOUBLE) / 10000.0 AS ss_between
        |  FROM tot CROSS JOIN ssb)
        |SELECT n_rows, n_groups,
        |  round(ss_total, 2) AS ss_total,
        |  round(ss_between, 2) AS ss_between,
        |  round(ss_total - ss_between, 2) AS ss_within,
        |  CASE WHEN ss_total > 0.0 THEN
        |    round(ss_between / ss_total, 6) END AS eta_sq,
        |  CASE WHEN ss_total - ss_between > 0.0 AND n_groups > 1
        |      AND n_rows > n_groups THEN
        |    round((ss_between / CAST(n_groups - 1 AS DOUBLE))
        |      / ((ss_total - ss_between)
        |        / CAST(n_rows - n_groups AS DOUBLE)), 4) END AS f_stat
        |FROM fin""".stripMargin,

    // q193: the Good-Turing ladder replayed — integer N_r counts,
    // single exact divisions, NULL r* on empty buckets.
    "q193_good_turing" ->
      """WITH tk AS (
        |  SELECT u.token FROM documents,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> ''))
        |      AS u(token)),
        |cnt AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY 1),
        |ff AS (SELECT c, CAST(count(*) AS BIGINT) AS n_r FROM cnt GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(c * n_r) AS BIGINT) AS n_tokens,
        |    CAST(sum(n_r) AS BIGINT) AS n_types,
        |    CAST(coalesce(max(CASE WHEN c = 1 THEN n_r END), 0) AS BIGINT)
        |      AS n1
        |  FROM ff),
        |grid AS (SELECT CAST(r AS BIGINT) AS r
        |  FROM range(1, 11) t(r))
        |SELECT g.r,
        |  coalesce(f0.n_r, 0) AS n_r,
        |  coalesce(f1.n_r, 0) AS n_r_plus_1,
        |  CASE WHEN f0.n_r IS NOT NULL AND f1.n_r IS NOT NULL THEN
        |    round(CAST(g.r + 1 AS DOUBLE) * CAST(f1.n_r AS DOUBLE)
        |      / CAST(f0.n_r AS DOUBLE), 6)
        |  END AS r_star,
        |  n_tokens, n_types,
        |  round(CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
        |    AS p_unseen
        |FROM grid g
        |LEFT JOIN ff f0 ON f0.c = g.r
        |LEFT JOIN ff f1 ON f1.c = g.r + 1
        |CROSS JOIN tot
        |ORDER BY g.r""".stripMargin,

    // q194: the minimax identity replayed — prefix-summed interval
    // averages as exact divisions, min/max over the identical double
    // sets.
    "q194_isotonic" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
        |      THEN 1 END), 0) AS BIGINT) AS score,
        |    coalesce(sum(CASE WHEN event_type = 'purchase'
        |      THEN 1 END), 0) > 0 AS converted
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM u),
        |sg AS (
        |  SELECT score, CAST(count(*) AS BIGINT) AS cnt FROM u GROUP BY 1),
        |sc AS (
        |  SELECT score,
        |    CAST(sum(cnt) OVER (ORDER BY score DESC) AS BIGINT) AS cum
        |  FROM sg),
        |dm AS (
        |  SELECT score, CAST((cum * 10 + n.n - 1) // n.n AS BIGINT) AS decile
        |  FROM sc CROSS JOIN n),
        |cells AS (
        |  SELECT 10 - dm.decile AS bin, CAST(count(*) AS BIGINT) AS n,
        |    CAST(coalesce(sum(CASE WHEN converted THEN 1 END), 0)
        |      AS BIGINT) AS conv
        |  FROM u JOIN dm ON u.score = dm.score GROUP BY 1),
        |pref AS (
        |  SELECT bin, n, conv,
        |    CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS pn,
        |    CAST(sum(conv) OVER (ORDER BY bin) AS BIGINT) AS pc
        |  FROM cells),
        |iv AS (
        |  SELECT lo.bin AS i, hi.bin AS j,
        |    CAST(hi.pc - lo.pc + lo.conv AS DOUBLE)
        |      / CAST(hi.pn - lo.pn + lo.n AS DOUBLE) AS a
        |  FROM pref lo JOIN pref hi ON lo.bin <= hi.bin),
        |fit AS (
        |  SELECT bin, max(inner_min) AS fitted FROM (
        |    SELECT p.bin, v.i, min(v.a) AS inner_min
        |    FROM pref p JOIN iv v ON v.i <= p.bin AND p.bin <= v.j
        |    GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT c.bin, c.n, c.conv,
        |  CAST(round(CAST(CAST(CAST(c.conv AS DOUBLE) / CAST(c.n AS DOUBLE)
        |    AS VARCHAR) AS DECIMAL(30,12)), 6) AS DOUBLE) AS rate,
        |  CAST(round(CAST(CAST(f.fitted AS VARCHAR) AS DECIMAL(30,12)), 6)
        |    AS DOUBLE) AS fitted
        |FROM cells c JOIN fit f ON f.bin = c.bin
        |ORDER BY c.bin""".stripMargin,

    // q195: the audit replayed against the ENGINE'S OWN compiled
    // expected constants (interpolated Double.toString — never the
    // oracle's log10), first digit from the decimal string, chi-square
    // folded in digit order.
    "q195_benford" -> {
      val exp = graft.quality.Benford.Expected.zipWithIndex
        .map { case (p, i) =>
          s"(${i + 1}, CAST(${java.lang.Double.toString(p)} AS DOUBLE))" }
        .mkString(", ")
      s"""WITH obs AS (
         |  SELECT CAST(substring(CAST(v AS VARCHAR), 1, 1) AS INTEGER)
         |    AS digit, CAST(count(*) AS BIGINT) AS n_obs
         |  FROM (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v
         |        FROM orders) WHERE v > 0
         |  GROUP BY 1),
         |expd AS (SELECT * FROM (VALUES $exp) t(digit, p_benford)),
         |grid AS (
         |  SELECT e.digit, coalesce(o.n_obs, 0) AS n_obs, e.p_benford
         |  FROM expd e LEFT JOIN obs o ON o.digit = e.digit),
         |tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM grid),
         |terms AS (
         |  SELECT digit, n_obs, p_benford,
         |    CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE) AS share,
         |    (CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE) - p_benford)
         |      * (CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE) - p_benford)
         |      / p_benford * CAST(n AS DOUBLE) AS term
         |  FROM grid CROSS JOIN tot),
         |chi AS (
         |  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list(term ORDER BY digit)), (a, x) -> a + x) AS chi_sq
         |  FROM terms)
         |SELECT digit, n_obs, round(share, 6) AS share,
         |  round(p_benford, 6) AS p_benford,
         |  round(share - p_benford, 6) AS excess,
         |  round(chi_sq, 4) AS chi_sq
         |FROM terms CROSS JOIN chi ORDER BY digit""".stripMargin
    },

    // q196: the rank-sum replayed — the SAME midrank construction
    // (2·avgrank integers over the value grain), HUGEINT rank sums,
    // the identical z / effect-size double shapes. The oracle ranks
    // via a plain global window; the engine via bucketed prefix sums —
    // two mechanisms, one statistic.
    "q196_rank_sum" ->
      """WITH g AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
        |    CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(coalesce(sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 END), 0)
        |      AS BIGINT) AS cnt_a
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT v, cnt, cnt_a,
        |    CAST(coalesce(sum(cnt) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_before
        |  FROM g),
        |rr AS (
        |  SELECT v, cnt, cnt_a,
        |    2 * cum_before + cnt + 1 AS r2
        |  FROM r),
        |a AS (
        |  SELECT sum(CAST(cnt_a AS HUGEINT) * r2) AS r2_sum_a,
        |    CAST(sum(cnt_a) AS BIGINT) AS n_a,
        |    CAST(sum(cnt - cnt_a) AS BIGINT) AS n_b
        |  FROM rr),
        |u AS (
        |  SELECT n_a, n_b,
        |    CAST(r2_sum_a - CAST(n_a AS HUGEINT) * (n_a + 1) AS DOUBLE)
        |      / 2.0 AS u_a
        |  FROM a)
        |SELECT n_a, n_b, u_a,
        |  CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) - u_a AS u_b,
        |  round(CAST(2 AS DOUBLE) * CAST(u_a AS DOUBLE)
        |    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) - 1.0, 6)
        |    AS rank_biserial,
        |  round((CAST(u_a AS DOUBLE)
        |    - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
        |    / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
        |      * CAST(n_a + n_b + 1 AS DOUBLE) / 12.0), 4) AS z
        |FROM u""".stripMargin,

    // q197: the log-rank grid replayed — integer risk sets, identical
    // E/V double shapes per event time, both sums folded in duration
    // order.
    "q197_log_rank" ->
      """WITH horizon AS (SELECT max(ts) AS end_ts FROM events),
        |u AS (
        |  SELECT user_id, min(ts) AS fts, max(ts) AS lts
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |lt AS (
        |  SELECT CAST(datediff('day', CAST(fts AS DATE),
        |      CAST(lts AS DATE)) AS BIGINT) AS dd,
        |    lts < end_ts - INTERVAL 7 DAY AS churned,
        |    user_id % 2 = 1 AS arm
        |  FROM u CROSS JOIN horizon),
        |g AS (
        |  SELECT dd, CAST(count(*) AS BIGINT) AS n_at,
        |    CAST(coalesce(sum(CASE WHEN arm THEN 1 END), 0) AS BIGINT)
        |      AS n_at_a,
        |    CAST(coalesce(sum(CASE WHEN churned THEN 1 END), 0) AS BIGINT)
        |      AS d,
        |    CAST(coalesce(sum(CASE WHEN churned AND arm THEN 1 END), 0)
        |      AS BIGINT) AS d_a
        |  FROM lt GROUP BY 1),
        |r AS (
        |  SELECT dd, d, d_a,
        |    CAST(sum(n_at) OVER (ORDER BY dd DESC) AS BIGINT) AS n_risk,
        |    CAST(sum(n_at_a) OVER (ORDER BY dd DESC) AS BIGINT)
        |      AS n_risk_a
        |  FROM g),
        |e AS (
        |  SELECT dd, d_a,
        |    CAST(d AS DOUBLE)
        |      * (CAST(n_risk_a AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |      AS e_a,
        |    CASE WHEN n_risk > 1 THEN
        |      CAST(d AS DOUBLE)
        |        * (CAST(n_risk_a AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |        * (CAST(1 AS DOUBLE)
        |          - CAST(n_risk_a AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |        * (CAST(n_risk AS DOUBLE) - CAST(d AS DOUBLE))
        |        / CAST(n_risk - 1 AS DOUBLE)
        |    ELSE CAST(0 AS DOUBLE) END AS v
        |  FROM r WHERE d > 0),
        |f AS (
        |  SELECT
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(CAST(d_a AS DOUBLE) ORDER BY dd)), (a, x) -> a + x)
        |      AS o_a,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(e_a ORDER BY dd)), (a, x) -> a + x) AS e_a,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(v ORDER BY dd)), (a, x) -> a + x) AS v
        |  FROM e),
        |arms AS (
        |  SELECT
        |    CAST(coalesce(sum(CASE WHEN arm THEN 1 END), 0) AS BIGINT)
        |      AS n_a,
        |    CAST(coalesce(sum(CASE WHEN NOT arm THEN 1 END), 0) AS BIGINT)
        |      AS n_b
        |  FROM lt)
        |SELECT n_a, n_b, CAST(o_a AS BIGINT) AS observed_a,
        |  round(e_a, 4) AS expected_a,
        |  CASE WHEN e_a > 0.0 THEN round(o_a / e_a, 6) END AS o_over_e,
        |  CASE WHEN v > 0.0 THEN
        |    round((o_a - e_a) * (o_a - e_a) / v, 4) END AS chi_sq
        |FROM f CROSS JOIN arms""".stripMargin,

    // q198: the CUSUM argmax replayed — exact HUGEINT n·S, the pinned
    // (|n·S| DESC, day DESC) tie convention as an ORDER BY LIMIT 1.
    "q198_cusum" ->
      """WITH e AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |days AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS cnt,
        |    sum(CAST(cents AS HUGEINT)) AS s
        |  FROM e GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS n, sum(s) AS total,
        |    CAST(count(*) AS BIGINT) AS n_days
        |  FROM days),
        |pref AS (
        |  SELECT day,
        |    CAST(sum(cnt) OVER (ORDER BY day) AS BIGINT) AS cum_cnt,
        |    sum(s) OVER (ORDER BY day) AS cum_s,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS idx
        |  FROM days),
        |ns AS (
        |  SELECT day, cum_cnt, cum_s, n, total,
        |    abs(CAST(n AS HUGEINT) * cum_s
        |      - CAST(cum_cnt AS HUGEINT) * total) AS abs_ns
        |  FROM pref CROSS JOIN tot WHERE idx < n_days)
        |SELECT day AS change_day, CAST(abs_ns AS DOUBLE) AS ns_peak,
        |  round(CAST(cum_s AS DOUBLE) / CAST(cum_cnt AS DOUBLE) / 100.0, 4)
        |    AS mean_before,
        |  round(CAST(total - cum_s AS DOUBLE)
        |    / CAST(n - cum_cnt AS DOUBLE) / 100.0, 4) AS mean_after,
        |  round(CAST(total - cum_s AS DOUBLE)
        |    / CAST(n - cum_cnt AS DOUBLE) / 100.0
        |    - CAST(cum_s AS DOUBLE) / CAST(cum_cnt AS DOUBLE) / 100.0, 4)
        |    AS shift
        |FROM ns ORDER BY abs_ns DESC, day DESC LIMIT 1""".stripMargin,

    // q199: the stratified estimator replayed — the q189 decile cut,
    // HUGEINT cell sums, the identical stratum-ordered folds. The four
    // quotient outputs round through a VARCHAR→DECIMAL round-trip:
    // Spark's round() rounds the double's SHORTEST-STRING decimal, and
    // DuckDB's rounds the approximate exact value — they part when a
    // quotient's shortest string lands exactly on the half grid (the
    // seed-3 fuzz find, pinned in FuzzSpec); the round-trip makes the
    // oracle replicate Spark's semantics exactly.
    "q199_stratified_ate" ->
      """WITH u AS (
        |  SELECT user_id AS unit_id,
        |    CAST(coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
        |      THEN 1 END), 0) AS BIGINT) AS score,
        |    user_id % 2 = 1 AS treated,
        |    CAST(coalesce(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
        |      THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT)
        |      AS cents
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM u),
        |sg AS (
        |  SELECT score, CAST(count(*) AS BIGINT) AS cnt FROM u GROUP BY 1),
        |scc AS (
        |  SELECT score,
        |    CAST(sum(cnt) OVER (ORDER BY score DESC) AS BIGINT) AS cum
        |  FROM sg),
        |dm AS (
        |  SELECT score, CAST((cum * 10 + n.n - 1) // n.n AS BIGINT)
        |    AS decile
        |  FROM scc CROSS JOIN n),
        |cells AS (
        |  SELECT decile,
        |    CAST(coalesce(sum(CASE WHEN treated THEN 1 END), 0) AS BIGINT)
        |      AS n_t,
        |    coalesce(sum(CASE WHEN treated
        |      THEN CAST(cents AS HUGEINT) END), 0) AS s_t,
        |    CAST(coalesce(sum(CASE WHEN NOT treated THEN 1 END), 0)
        |      AS BIGINT) AS n_c,
        |    coalesce(sum(CASE WHEN NOT treated
        |      THEN CAST(cents AS HUGEINT) END), 0) AS s_c
        |  FROM u JOIN dm ON u.score = dm.score GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(n_t) AS BIGINT) AS nt, sum(s_t) AS st,
        |    CAST(sum(n_c) AS BIGINT) AS nc, sum(s_c) AS sc2,
        |    CAST(coalesce(sum(CASE WHEN n_t = 0 OR n_c = 0
        |      THEN n_t + n_c END), 0) AS BIGINT) AS n_unsupported
        |  FROM cells),
        |terms AS (
        |  SELECT decile,
        |    CAST(n_t + n_c AS DOUBLE)
        |      * (CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE)
        |        - CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE)) AS w_gap,
        |    CAST(n_t + n_c AS DOUBLE) AS nd,
        |    CAST(n_t AS DOUBLE) / CAST(n_t + n_c AS DOUBLE) AS share_t
        |  FROM cells WHERE n_t > 0 AND n_c > 0),
        |f AS (
        |  SELECT
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(w_gap ORDER BY decile)), (a, x) -> a + x) AS sum_w_gap,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(nd ORDER BY decile)), (a, x) -> a + x) AS n_supported,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(share_t * nd ORDER BY decile)), (a, x) -> a + x)
        |      AS share_t_wsum
        |  FROM terms)
        |SELECT nt AS n_treated, nc AS n_control, n_unsupported,
        |  CAST(round(CAST(CAST((CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
        |    - CAST(sc2 AS DOUBLE) / CAST(nc AS DOUBLE)) / 100.0
        |    AS VARCHAR) AS DECIMAL(30,12)), 4) AS DOUBLE) AS ate_naive,
        |  CAST(round(CAST(CAST(sum_w_gap / n_supported / 100.0
        |    AS VARCHAR) AS DECIMAL(30,12)), 4) AS DOUBLE) AS ate_adjusted,
        |  CAST(round(CAST(CAST((CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
        |    - CAST(sc2 AS DOUBLE) / CAST(nc AS DOUBLE)) / 100.0
        |    - sum_w_gap / n_supported / 100.0
        |    AS VARCHAR) AS DECIMAL(30,12)), 4) AS DOUBLE) AS confounding,
        |  CAST(round(CAST(CAST(share_t_wsum / n_supported
        |    AS VARCHAR) AS DECIMAL(30,12)), 6) AS DOUBLE)
        |    AS avg_share_treated
        |FROM f CROSS JOIN tot""".stripMargin,

    // q200: the release card replayed stage by stage — the q112 rule
    // battery scoped to the corpus side, the q24 min-id keeper among
    // quality survivors, the q53 containment screen, one integer
    // rollup.
    "q200_release_funnel" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE source <> 'src0'),
        |tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
        |    AS t
        |  FROM corpus),
        |tf AS (
        |  SELECT doc_id, u AS token, count(*) AS c
        |  FROM (SELECT doc_id, unnest(t) AS u FROM tk)
        |  GROUP BY 1, 2),
        |md AS (SELECT doc_id, max(c) AS mx FROM tf GROUP BY doc_id),
        |sig AS (
        |  SELECT tk.doc_id,
        |    CAST(len(t) AS BIGINT) AS n_tokens,
        |    round(CAST(coalesce(list_sum(list_transform(t, x -> length(x))),
        |      0) AS DOUBLE) / greatest(len(t), 1), 4) AS avg_token_len,
        |    round(CAST(len(list_distinct(t)) AS DOUBLE)
        |      / greatest(len(t), 1), 4) AS distinct_ratio,
        |    round(CAST(coalesce(md.mx, 0) AS DOUBLE)
        |      / greatest(len(t), 1), 4) AS top_token_ratio,
        |    len(list_filter(t, x -> x IN
        |      ('the','a','and','of','el','la','los','y','le','les','et',
        |       'une','der','die','und','das'))) AS stop_hits
        |  FROM tk LEFT JOIN md ON tk.doc_id = md.doc_id),
        |p AS (
        |  SELECT c.doc_id, c.text, s.n_tokens,
        |    NOT (s.n_tokens < 20 OR s.n_tokens > 95
        |      OR s.avg_token_len < 3.0 OR s.avg_token_len > 8.0
        |      OR s.distinct_ratio < 0.4 OR s.top_token_ratio > 0.2
        |      OR s.stop_hits < 1) AS pass
        |  FROM corpus c JOIN sig s ON s.doc_id = c.doc_id),
        |km AS (
        |  SELECT text, min(CASE WHEN pass THEN doc_id END) AS keeper
        |  FROM p GROUP BY text),
        |kept AS (
        |  SELECT p.doc_id, p.n_tokens, p.pass,
        |    p.pass AND p.doc_id = km.keeper AS keep
        |  FROM p JOIN km ON km.text = p.text),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, source,
        |    array_to_string(list_slice(t2, i + 1, i + 5), ' ') AS shingle
        |  FROM (SELECT doc_id, source,
        |      list_filter(string_split(text, ' '), x -> x <> '') AS t2
        |    FROM documents) dd, unnest(range(0, len(t2) - 4)) AS g(i)
        |  WHERE len(t2) >= 5),
        |shc AS (
        |  SELECT doc_id, shingle FROM (
        |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle)
        |      AS df
        |    FROM sh0 WHERE source <> 'src0')
        |  WHERE df <= 100),
        |she AS (SELECT doc_id, shingle FROM sh0 WHERE source = 'src0'),
        |sz AS (SELECT doc_id AS eval_id, count(*) AS n_eval_sh
        |  FROM she GROUP BY 1),
        |cm AS (
        |  SELECT c.doc_id AS doc_id, e.doc_id AS eval_id, count(*)
        |    AS n_common
        |  FROM shc c JOIN she e USING (shingle)
        |  GROUP BY 1, 2),
        |cd AS (
        |  SELECT DISTINCT doc_id
        |  FROM cm JOIN sz USING (eval_id)
        |  WHERE round(CAST(n_common AS DOUBLE) / n_eval_sh, 4) >= 0.5),
        |fl AS (
        |  SELECT k.doc_id, k.n_tokens, k.pass, k.keep,
        |    cd.doc_id IS NOT NULL AS contaminated
        |  FROM kept k LEFT JOIN cd ON cd.doc_id = k.doc_id),
        |one AS (
        |  SELECT CAST(count(*) AS BIGINT) AS d1,
        |    CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS t1,
        |    CAST(coalesce(sum(CASE WHEN pass THEN 1 END), 0) AS BIGINT)
        |      AS d2,
        |    CAST(coalesce(sum(CASE WHEN pass THEN n_tokens END), 0)
        |      AS BIGINT) AS t2,
        |    CAST(coalesce(sum(CASE WHEN keep THEN 1 END), 0) AS BIGINT)
        |      AS d3,
        |    CAST(coalesce(sum(CASE WHEN keep THEN n_tokens END), 0)
        |      AS BIGINT) AS t3,
        |    CAST(coalesce(sum(CASE WHEN keep AND NOT contaminated
        |      THEN 1 END), 0) AS BIGINT) AS d4,
        |    CAST(coalesce(sum(CASE WHEN keep AND NOT contaminated
        |      THEN n_tokens END), 0) AS BIGINT) AS t4
        |  FROM fl)
        |SELECT stage_idx, stage, n_docs, n_tokens,
        |  round(CAST(n_docs AS DOUBLE) / CAST(d1 AS DOUBLE), 6)
        |    AS share_of_ingested
        |FROM (
        |  SELECT CAST(1 AS BIGINT) AS stage_idx, 'ingested' AS stage,
        |    d1 AS n_docs, t1 AS n_tokens, d1 FROM one
        |  UNION ALL SELECT 2, 'quality_pass', d2, t2, d1 FROM one
        |  UNION ALL SELECT 3, 'exact_dedup', d3, t3, d1 FROM one
        |  UNION ALL SELECT 4, 'released', d4, t4, d1 FROM one)
        |ORDER BY stage_idx""".stripMargin,

    // q201: the weighted nearest-rank statistic replayed via a plain
    // per-group cumulative window (vs the engine's bucketed prefix
    // sums — two mechanisms, one statistic); all integers end to end.
    "q201_weighted_quantiles" ->
      """WITH grain AS (
        |  SELECT l_returnflag AS g,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
        |    CAST(sum(l_quantity) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (
        |  SELECT g, v, w,
        |    CAST(sum(w) OVER (PARTITION BY g ORDER BY v) AS BIGINT)
        |      AS cumw,
        |    CAST(sum(w) OVER (PARTITION BY g) AS BIGINT) AS w_total
        |  FROM grain)
        |SELECT g, w_total,
        |  min(CASE WHEN cumw >= (1 * w_total + 3) // 4 THEN v END)
        |    AS p1_4_cents,
        |  min(CASE WHEN cumw >= (1 * w_total + 1) // 2 THEN v END)
        |    AS p1_2_cents,
        |  min(CASE WHEN cumw >= (3 * w_total + 3) // 4 THEN v END)
        |    AS p3_4_cents,
        |  min(CASE WHEN cumw >= (9 * w_total + 9) // 10 THEN v END)
        |    AS p9_10_cents
        |FROM r GROUP BY g, w_total ORDER BY g""".stripMargin,

    // q202: the aHash near-dup pairs replayed from the deterministic
    // pixel matrix — the q82 mixer per (seed, pixel), block sums, the
    // integer mean test bs*64 > total, 32+32-bit packing, then a
    // BRUTE-FORCE pair scan (the oracle's privilege; the engine bands).
    // The engine's byte-level payload encode/parse is verified by this
    // replay: any offset slip changes hashes and fails the hash gate.
    "q202_image_near_dup" ->
      s"""WITH $ImageHashCte
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.hi, b.hi))
        |    + bit_count(xor(a.lo, b.lo)) AS INTEGER) AS hamming
        |FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.hi, b.hi))
        |  + bit_count(xor(a.lo, b.lo)) <= 3
        |ORDER BY 1, 2""".stripMargin,

    // q203: the dHash (gradient) twin — bit (y,x) set when block
    // (y,x+1) outweighs block (y,x); 56 bits, brute-force pair scan.
    "q203_image_dhash_pairs" ->
      s"""WITH $ImageHashCte,
        |dh AS (
        |  SELECT l.doc_id,
        |    CAST(coalesce(sum(CASE WHEN r.bs > l.bs
        |      THEN 1::BIGINT << ((l.b // 8) * 7 + (l.b % 8)) END), 0)
        |      AS BIGINT) AS dhash
        |  FROM blocks l JOIN blocks r
        |    ON r.doc_id = l.doc_id AND r.b = l.b + 1
        |  WHERE l.b % 8 < 7
        |  GROUP BY 1)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
        |FROM dh a JOIN dh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
        |ORDER BY 1, 2""".stripMargin,

    // q204: the audio energy-delta fingerprint replayed from the
    // deterministic PCM stream — the q82 mixer per (seed, sample),
    // signed-16 reconstruction, per-frame Σ|s|, bit t = e(t+1) > e(t)
    // packed into 32+32-bit halves, then a brute-force pair scan (the
    // oracle's privilege; the engine bands). The engine's big-endian
    // s16 payload decode is verified end-to-end by this replay.
    "q204_audio_near_dup" ->
      s"""WITH $AudioFpCte
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.hi, b.hi))
        |    + bit_count(xor(a.lo, b.lo)) AS INTEGER) AS hamming
        |FROM afp a JOIN afp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.hi, b.hi))
        |  + bit_count(xor(a.lo, b.lo)) <= 3
        |ORDER BY 1, 2""".stripMargin,

    // q205: keyframe (scene-cut) selection replayed from the
    // deterministic 16-frame pixel streams — per-frame 4×4 block sums,
    // the 16-bit integer mean test bs*16 > total, the lag Hamming and
    // the > 4 cut threshold. Frame 0 is always emitted (ham_prev
    // NULL). The engine computes this shuffle-free inside one flatMap;
    // the oracle uses the window lag — two mechanisms, one answer.
    "q205_video_keyframes" ->
      s"""WITH $VideoHashCte,
        |lagged AS (
        |  SELECT doc_id, f, h,
        |    CAST(bit_count(xor(h,
        |      lag(h) OVER (PARTITION BY doc_id ORDER BY f))) AS INTEGER)
        |      AS ham
        |  FROM fhash)
        |SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
        |  CAST(h AS INTEGER) AS frame_hash,
        |  CASE WHEN f = 0 THEN NULL ELSE ham END AS ham_prev
        |FROM lagged
        |WHERE f = 0 OR ham > 4
        |ORDER BY 1, 2""".stripMargin,

    // q206: the trained PQ codebook audit replayed — hash-ordered init
    // (the q37 seed), two argmin-L2 Lloyd rounds per subspace with
    // round(mean,6)->FLOAT between rounds, final assignment, then the
    // all-integer (n_members, sse_micro) rollup. The micro conversion
    // reproduces Spark's shortest-string round() via the
    // VARCHAR->DECIMAL(30,12) round-trip (lossless here: d2*1e6 fits
    // 12 fractional digits).
    "q206_pq_codebook" ->
      s"""WITH $PqCtes
        |SELECT CAST(s AS INTEGER) AS subspace, cid AS centroid_id,
        |  CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(sum($PqMicroD2) AS BIGINT) AS sse_micro
        |FROM pcode GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    // q207: PQ-ADC top-k replayed — per-query M x K distance tables in
    // integer micro-units, approximate distance as the INTEGER sum of
    // each vector's M table entries (order-free by construction), rank
    // by (adist_micro, neighbor_id).
    "q207_pq_adc_topk" -> {
      def l2(sv: String, c: String): String =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
          s"list_transform(range(1, len($sv) + 1), " +
          s"i -> ($sv[i] - $c[i]) * ($sv[i] - $c[i]))), " +
          s"(a, x) -> a + x)"
      s"""WITH $PqCtes,
        |pquery AS (
        |  SELECT s, vec_id AS query_id, sv FROM psub
        |  WHERE vec_id < ${graft.similarity.ProductQuantization.NQueries}),
        |pdt AS (
        |  SELECT q.query_id, q.s, t.cid,
        |    CAST(round(CAST(CAST((${l2("q.sv", "t.c")}) * 1000000.0
        |      AS VARCHAR) AS DECIMAL(30,12)), 0) AS BIGINT) AS du
        |  FROM pquery q JOIN pc2 t ON t.s = q.s),
        |pscore AS (
        |  SELECT d.query_id, c.vec_id,
        |    CAST(sum(d.du) AS BIGINT) AS adist_micro
        |  FROM pcode c JOIN pdt d ON d.s = c.s AND d.cid = c.cid
        |  WHERE d.query_id <> c.vec_id
        |  GROUP BY 1, 2),
        |prnk AS (
        |  SELECT query_id, vec_id, adist_micro,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY adist_micro, vec_id) AS BIGINT) AS rnk
        |  FROM pscore)
        |SELECT query_id, rnk, vec_id AS neighbor_id, adist_micro
        |FROM prnk
        |WHERE rnk <= ${graft.similarity.ProductQuantization.TopK}
        |ORDER BY query_id, rnk""".stripMargin
    },

    // q208: IVF-PQ replayed end to end — the q37 coarse chain (cosine
    // Lloyd, list assignment, nprobe=4 query probing), double residuals
    // vs the FLOAT coarse centroids, the shared PQ chain retrained on
    // residuals (`pe` = residuals), per-(query, probed-list) residual
    // ADC tables in micro-units, integer sums over probed candidates.
    "q208_ivfpq_topk" -> {
      import graft.similarity.IvfPq.{NList, NProbe, NQueries, TopK}
      def pqL2(sv: String, c: String): String =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
          s"list_transform(range(1, len($sv) + 1), " +
          s"i -> ($sv[i] - $c[i]) * ($sv[i] - $c[i]))), " +
          s"(a, x) -> a + x)"
      val mm = graft.similarity.ProductQuantization.M
      s"""WITH e AS (
        |  SELECT vec_id, embedding AS v,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, dv,
        |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(dv, x -> x * x)), (s, x) -> s + x)) AS nrm
        |  FROM e),
        |${IvfCoarseChainSql("e", "n", NList)},
        |lists AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT n.vec_id, t.cid,
        |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
        |        (${IvfCosSql("n.dv", "n.nrm", "t.cdv", "t.cnrm")})
        |        DESC NULLS LAST, t.cid) AS rn
        |    FROM n, c2n t) s
        |  WHERE rn = 1),
        |pe AS (
        |  SELECT e.vec_id,
        |    list_transform(range(1, len(e.dv) + 1),
        |      i -> e.dv[i] - CAST(t.c[i] AS DOUBLE)) AS dv
        |  FROM e JOIN lists l ON l.vec_id = e.vec_id
        |  JOIN c2 t ON t.cid = l.cid),
        |$PqChain,
        |pr AS (
        |  SELECT query_id, cid AS list_id FROM (
        |    SELECT n.vec_id AS query_id, t.cid,
        |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
        |        (${IvfCosSql("n.dv", "n.nrm", "t.cdv", "t.cnrm")})
        |        DESC NULLS LAST, t.cid) AS rn
        |    FROM n, c2n t WHERE n.vec_id < $NQueries) s
        |  WHERE rn <= $NProbe),
        |qres AS (
        |  SELECT pr.query_id, pr.list_id,
        |    list_transform(range(1, len(e.dv) + 1),
        |      i -> e.dv[i] - CAST(t.c[i] AS DOUBLE)) AS rdv
        |  FROM pr JOIN e ON e.vec_id = pr.query_id
        |  JOIN c2 t ON t.cid = pr.list_id),
        |qsub AS (
        |  SELECT query_id, list_id, g.s,
        |    list_slice(rdv, g.s * (len(rdv) // $mm) + 1,
        |      (g.s + 1) * (len(rdv) // $mm)) AS sv
        |  FROM qres CROSS JOIN generate_series(0, ${mm - 1}) g(s)),
        |qdt AS (
        |  SELECT q.query_id, q.list_id, q.s, t.cid,
        |    CAST(round(CAST(CAST((${pqL2("q.sv", "t.c")}) * 1000000.0
        |      AS VARCHAR) AS DECIMAL(30,12)), 0) AS BIGINT) AS du
        |  FROM qsub q JOIN pc2 t ON t.s = q.s),
        |cand AS (
        |  SELECT d.query_id, c.vec_id,
        |    CAST(sum(d.du) AS BIGINT) AS adist_micro
        |  FROM pcode c
        |  JOIN lists l ON l.vec_id = c.vec_id
        |  JOIN qdt d ON d.list_id = l.cid AND d.s = c.s AND d.cid = c.cid
        |  WHERE d.query_id <> c.vec_id
        |  GROUP BY 1, 2),
        |crnk AS (
        |  SELECT query_id, vec_id, adist_micro,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY adist_micro, vec_id) AS BIGINT) AS rnk
        |  FROM cand)
        |SELECT query_id, rnk, vec_id AS neighbor_id, adist_micro
        |FROM crnk WHERE rnk <= $TopK
        |ORDER BY query_id, rnk""".stripMargin
    },

    // q209: the media dedup plan replayed — the q202 image pairs, q204
    // audio pairs and q210 video pairs re-derived, closed transitively
    // by the q40 recursive min-label walk, then the
    // keeper/action/evidence rollup. keeper is computed independently
    // of cluster_id on both sides, so a component-label convention
    // drift fails the hash gate.
    "q209_media_dedup_plan" ->
      s"""WITH RECURSIVE $ImageHashCte,
        |$AudioFpCte,
        |$VideoHashCte,
        |$VideoKfSetCtes,
        |ie AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.hi, b.hi))
        |    + bit_count(xor(a.lo, b.lo)) <= 3),
        |ae AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM afp a JOIN afp b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.hi, b.hi))
        |    + bit_count(xor(a.lo, b.lo)) <= 3),
        |ve AS (
        |  SELECT id_a, id_b FROM vpairs),
        |medges AS (
        |  SELECT id_a, id_b, 'image' AS modality FROM ie
        |  UNION ALL
        |  SELECT id_a, id_b, 'audio' FROM ae
        |  UNION ALL
        |  SELECT id_a, id_b, 'video' FROM ve),
        |med AS (
        |  SELECT id_a AS src, id_b AS dst FROM medges
        |  UNION
        |  SELECT id_b, id_a FROM medges),
        |mwalk(id, lbl) AS (
        |  SELECT src, src FROM med
        |  UNION
        |  SELECT e.src, w.lbl FROM med e JOIN mwalk w ON w.id = e.dst),
        |mcc AS (
        |  SELECT id AS doc_id, min(lbl) AS cluster_id
        |  FROM mwalk GROUP BY id),
        |mmem AS (
        |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
        |    min(doc_id) AS keeper
        |  FROM mcc GROUP BY 1),
        |mmods AS (
        |  SELECT c.cluster_id,
        |    string_agg(DISTINCT e.modality, ',' ORDER BY e.modality)
        |      AS modalities
        |  FROM medges e JOIN mcc c ON c.doc_id = e.id_a
        |  GROUP BY 1)
        |SELECT mcc.doc_id, mcc.cluster_id, m.keeper,
        |  CASE WHEN mcc.doc_id = m.keeper THEN 'keep' ELSE 'drop' END
        |    AS action,
        |  m.n_members, md.modalities
        |FROM mcc
        |JOIN mmem m ON m.cluster_id = mcc.cluster_id
        |JOIN mmods md ON md.cluster_id = mcc.cluster_id
        |ORDER BY mcc.doc_id""".stripMargin,

    // q217: erasure maintenance of the media dedup plan — the oracle
    // recomputes the SURVIVOR plan from scratch (deleting clustered
    // clips in the %DeleteMod slice) with a SECOND recursive min-label
    // walk over the survivor edges, and re-derives the leg
    // independently from the FULL-corpus clusters: a doc whose
    // original cluster lost a member is 'recomputed', the rest
    // 'kept'. Node removal can only split components (edges are
    // pairwise), so hash equality proves the cluster-scoped erasure —
    // splits, keeper handoffs and evaporated singletons included.
    // MATERIALIZED is load-bearing on every CTE between the two
    // recursive walks: swalk's recursive half references sedges → del →
    // mcc → mwalk, and without the hint DuckDB re-inlines that whole
    // chain (fingerprint CTEs included) into EVERY iteration of the
    // second recursion — >17 min at sf0.001 vs 0.9 s materialized.
    "q217_media_plan_delete" -> {
      import graft.multimodal.MediaDedup.DeleteMod
      s"""WITH RECURSIVE $ImageHashCte,
        |$AudioFpCte,
        |$VideoHashCte,
        |$VideoKfSetCtes,
        |ie AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.hi, b.hi))
        |    + bit_count(xor(a.lo, b.lo)) <= 3),
        |ae AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM afp a JOIN afp b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.hi, b.hi))
        |    + bit_count(xor(a.lo, b.lo)) <= 3),
        |ve AS (
        |  SELECT id_a, id_b FROM vpairs),
        |medges AS MATERIALIZED (
        |  SELECT id_a, id_b, 'image' AS modality FROM ie
        |  UNION ALL
        |  SELECT id_a, id_b, 'audio' FROM ae
        |  UNION ALL
        |  SELECT id_a, id_b, 'video' FROM ve),
        |med AS MATERIALIZED (
        |  SELECT id_a AS src, id_b AS dst FROM medges
        |  UNION
        |  SELECT id_b, id_a FROM medges),
        |mwalk(id, lbl) AS (
        |  SELECT src, src FROM med
        |  UNION
        |  SELECT e.src, w.lbl FROM med e JOIN mwalk w ON w.id = e.dst),
        |mcc AS MATERIALIZED (
        |  SELECT id AS doc_id, min(lbl) AS cluster_id
        |  FROM mwalk GROUP BY id),
        |del AS MATERIALIZED (
        |  SELECT doc_id FROM mcc
        |  WHERE doc_id % $DeleteMod = ${DeleteMod - 1}),
        |dirty AS MATERIALIZED (
        |  SELECT DISTINCT cluster_id FROM mcc
        |  WHERE doc_id % $DeleteMod = ${DeleteMod - 1}),
        |sedges AS MATERIALIZED (
        |  SELECT id_a, id_b, modality FROM medges
        |  WHERE id_a NOT IN (SELECT doc_id FROM del)
        |    AND id_b NOT IN (SELECT doc_id FROM del)),
        |sed AS MATERIALIZED (
        |  SELECT id_a AS src, id_b AS dst FROM sedges
        |  UNION
        |  SELECT id_b, id_a FROM sedges),
        |swalk(id, lbl) AS (
        |  SELECT src, src FROM sed
        |  UNION
        |  SELECT e.src, w.lbl FROM sed e JOIN swalk w ON w.id = e.dst),
        |scc AS MATERIALIZED (
        |  SELECT id AS doc_id, min(lbl) AS cluster_id
        |  FROM swalk GROUP BY id),
        |smem AS (
        |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
        |    min(doc_id) AS keeper
        |  FROM scc GROUP BY 1),
        |smods AS (
        |  SELECT c.cluster_id,
        |    string_agg(DISTINCT e.modality, ',' ORDER BY e.modality)
        |      AS modalities
        |  FROM sedges e JOIN scc c ON c.doc_id = e.id_a
        |  GROUP BY 1)
        |SELECT scc.doc_id, scc.cluster_id, m.keeper,
        |  CASE WHEN scc.doc_id = m.keeper THEN 'keep' ELSE 'drop' END
        |    AS action,
        |  m.n_members, md.modalities,
        |  CASE WHEN f.cluster_id IN (SELECT cluster_id FROM dirty)
        |    THEN 'recomputed' ELSE 'kept' END AS leg
        |FROM scc
        |JOIN smem m ON m.cluster_id = scc.cluster_id
        |JOIN smods md ON md.cluster_id = scc.cluster_id
        |JOIN mcc f ON f.doc_id = scc.doc_id
        |ORDER BY scc.doc_id""".stripMargin
    },

    // q210: the video near-dup pairs replayed — keyframe hash sets
    // from the q205 chain, then a BRUTE-FORCE all-pairs shared-hash
    // count (the oracle's privilege; the engine's inverted index is
    // complete for J >= 1/2 by the shared >= 1 pigeonhole) and the
    // exact integer Jaccard test 3*shared >= |A| + |B|.
    "q210_video_near_dup" ->
      s"""WITH $VideoHashCte,
        |$VideoKfSetCtes
        |SELECT id_a, id_b, n_shared, n_a, n_b
        |FROM vpairs
        |ORDER BY 1, 2""".stripMargin,

    // q211: incremental IVF-PQ maintenance replayed — the coarse and
    // PQ chains trained on the BASE corpus only (vec_id % 5 <> 4), ALL
    // vectors assigned through the frozen codebooks, the maintained
    // table (base codes ∪ batch codes) full-outer-diffed against the
    // from-scratch re-encode (the q152 law: 0 mismatches per list),
    // plus the occupancy/SSE/PSI drift readout.
    "q211_vector_index_maintain" -> {
      import graft.similarity.IvfPq.NList
      import graft.similarity.VectorIndexMaintain.BatchMod
      val mm = graft.similarity.ProductQuantization.M
      val newRes = BatchMod - 1
      s"""WITH e AS (
        |  SELECT vec_id, embedding AS v,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, dv,
        |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(dv, x -> x * x)), (s, x) -> s + x)) AS nrm
        |  FROM e),
        |eb AS (SELECT * FROM e WHERE vec_id % $BatchMod <> $newRes),
        |nb AS (SELECT * FROM n WHERE vec_id % $BatchMod <> $newRes),
        |${IvfCoarseChainSql("eb", "nb", NList)},
        |lists AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT n.vec_id, t.cid,
        |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
        |        (${IvfCosSql("n.dv", "n.nrm", "t.cdv", "t.cnrm")})
        |        DESC NULLS LAST, t.cid) AS rn
        |    FROM n, c2n t) s
        |  WHERE rn = 1),
        |pe AS (
        |  SELECT e.vec_id,
        |    list_transform(range(1, len(e.dv) + 1),
        |      i -> e.dv[i] - CAST(t.c[i] AS DOUBLE)) AS dv
        |  FROM eb e JOIN lists l ON l.vec_id = e.vec_id
        |  JOIN c2 t ON t.cid = l.cid),
        |$PqChain,
        |ren AS (
        |  SELECT e.vec_id, l.cid AS list_id,
        |    list_transform(range(1, len(e.dv) + 1),
        |      i -> e.dv[i] - CAST(t.c[i] AS DOUBLE)) AS rdv
        |  FROM e JOIN lists l ON l.vec_id = e.vec_id
        |  JOIN c2 t ON t.cid = l.cid
        |  WHERE e.vec_id % $BatchMod = $newRes),
        |nsub AS (
        |  SELECT vec_id, g.s,
        |    list_slice(rdv, g.s * (len(rdv) // $mm) + 1,
        |      (g.s + 1) * (len(rdv) // $mm)) AS sv
        |  FROM ren CROSS JOIN generate_series(0, ${mm - 1}) g(s)),
        |${PqAssignSql("ncode", "nsub")},
        |rea AS (
        |  SELECT e.vec_id, l.cid AS list_id,
        |    list_transform(range(1, len(e.dv) + 1),
        |      i -> e.dv[i] - CAST(t.c[i] AS DOUBLE)) AS rdv
        |  FROM e JOIN lists l ON l.vec_id = e.vec_id
        |  JOIN c2 t ON t.cid = l.cid),
        |asub AS (
        |  SELECT vec_id, g.s,
        |    list_slice(rdv, g.s * (len(rdv) // $mm) + 1,
        |      (g.s + 1) * (len(rdv) // $mm)) AS sv
        |  FROM rea CROSS JOIN generate_series(0, ${mm - 1}) g(s)),
        |${PqAssignSql("acode", "asub")},
        |maint AS (
        |  SELECT p.s, p.vec_id, p.cid, l.cid AS list_id
        |  FROM pcode p JOIN lists l ON l.vec_id = p.vec_id
        |  UNION ALL
        |  SELECT nc.s, nc.vec_id, nc.cid, r.list_id
        |  FROM ncode nc JOIN ren r ON r.vec_id = nc.vec_id),
        |reb AS (
        |  SELECT a.s, a.vec_id, a.cid, l.cid AS list_id
        |  FROM acode a JOIN lists l ON l.vec_id = a.vec_id),
        |mm0 AS (
        |  SELECT coalesce(m.list_id, r.list_id) AS list_id
        |  FROM maint m FULL OUTER JOIN reb r
        |    ON r.vec_id = m.vec_id AND r.s = m.s
        |  WHERE m.cid IS NULL OR r.cid IS NULL
        |    OR m.cid <> r.cid OR m.list_id <> r.list_id),
        |mmagg AS (
        |  SELECT list_id, CAST(count(*) AS BIGINT) AS n_code_mismatch
        |  FROM mm0 GROUP BY 1),
        |ob AS (
        |  SELECT cid AS list_id, CAST(count(*) AS BIGINT) AS n_base
        |  FROM lists WHERE vec_id % $BatchMod <> $newRes GROUP BY 1),
        |onw AS (
        |  SELECT cid AS list_id, CAST(count(*) AS BIGINT) AS n_new
        |  FROM lists WHERE vec_id % $BatchMod = $newRes GROUP BY 1),
        |sse AS (
        |  SELECT r.list_id,
        |    CAST(sum(CAST(round(CAST(CAST(nc.d2 * 1000000.0 AS VARCHAR)
        |      AS DECIMAL(30,12)), 0) AS BIGINT)) AS BIGINT)
        |      AS new_sse_micro
        |  FROM ncode nc JOIN ren r ON r.vec_id = nc.vec_id
        |  GROUP BY 1),
        |occ AS (
        |  SELECT c2.cid AS list_id,
        |    CAST(coalesce(ob.n_base, 0) AS BIGINT) AS n_base,
        |    CAST(coalesce(onw.n_new, 0) AS BIGINT) AS n_new,
        |    CAST(coalesce(sse.new_sse_micro, 0) AS BIGINT)
        |      AS new_sse_micro,
        |    CAST(coalesce(mmagg.n_code_mismatch, 0) AS BIGINT)
        |      AS n_code_mismatch
        |  FROM c2
        |  LEFT JOIN ob ON ob.list_id = c2.cid
        |  LEFT JOIN onw ON onw.list_id = c2.cid
        |  LEFT JOIN sse ON sse.list_id = c2.cid
        |  LEFT JOIN mmagg ON mmagg.list_id = c2.cid),
        |tt AS (
        |  SELECT CAST(sum(n_base) AS BIGINT) AS t_base,
        |    CAST(sum(n_new) AS BIGINT) AS t_new,
        |    CAST(count(*) AS BIGINT) AS n_lists
        |  FROM occ)
        |SELECT list_id, n_base, n_new, new_sse_micro, n_code_mismatch,
        |  CAST(round(CAST(CAST(
        |    ((n_base + 1) / CAST(t_base + n_lists AS DOUBLE)
        |      - (n_new + 1) / CAST(t_new + n_lists AS DOUBLE))
        |    * ln(((n_base + 1) / CAST(t_base + n_lists AS DOUBLE))
        |        / ((n_new + 1) / CAST(t_new + n_lists AS DOUBLE)))
        |    AS VARCHAR) AS DECIMAL(30,12)), 6) AS DOUBLE) AS psi_contrib
        |FROM occ, tt ORDER BY list_id""".stripMargin
    },

    // q212: the recall@k-vs-nprobe curve replayed — the q208 chain
    // built once, the probe ranking kept to the sweep's maximum, per-np
    // candidate sets by rank filter, integer ADC ranking per (np,
    // query), then intersection counts against the exact L2 top-k
    // truth (brute force: the oracle's privilege AND the tuning run's —
    // over the query sample only).
    "q212_pq_recall_curve" -> {
      import graft.similarity.IvfPq.{NList, NQueries, RecallProbes,
        ShortlistR, TopK}
      def pqL2(sv: String, c: String): String =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
          s"list_transform(range(1, len($sv) + 1), " +
          s"i -> ($sv[i] - $c[i]) * ($sv[i] - $c[i]))), " +
          s"(a, x) -> a + x)"
      val mm = graft.similarity.ProductQuantization.M
      val maxNp = RecallProbes.max
      val npList = RecallProbes.mkString("[", ", ", "]")
      s"""WITH e AS (
        |  SELECT vec_id, embedding AS v,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, dv,
        |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(dv, x -> x * x)), (s, x) -> s + x)) AS nrm
        |  FROM e),
        |${IvfCoarseChainSql("e", "n", NList)},
        |lists AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT n.vec_id, t.cid,
        |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
        |        (${IvfCosSql("n.dv", "n.nrm", "t.cdv", "t.cnrm")})
        |        DESC NULLS LAST, t.cid) AS rn
        |    FROM n, c2n t) s
        |  WHERE rn = 1),
        |pe AS (
        |  SELECT e.vec_id,
        |    list_transform(range(1, len(e.dv) + 1),
        |      i -> e.dv[i] - CAST(t.c[i] AS DOUBLE)) AS dv
        |  FROM e JOIN lists l ON l.vec_id = e.vec_id
        |  JOIN c2 t ON t.cid = l.cid),
        |$PqChain,
        |pr8 AS (
        |  SELECT query_id, cid AS list_id, rn AS prn FROM (
        |    SELECT n.vec_id AS query_id, t.cid,
        |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
        |        (${IvfCosSql("n.dv", "n.nrm", "t.cdv", "t.cnrm")})
        |        DESC NULLS LAST, t.cid) AS rn
        |    FROM n, c2n t WHERE n.vec_id < $NQueries) s
        |  WHERE rn <= $maxNp),
        |qres AS (
        |  SELECT pr8.query_id, pr8.list_id, pr8.prn,
        |    list_transform(range(1, len(e.dv) + 1),
        |      i -> e.dv[i] - CAST(t.c[i] AS DOUBLE)) AS rdv
        |  FROM pr8 JOIN e ON e.vec_id = pr8.query_id
        |  JOIN c2 t ON t.cid = pr8.list_id),
        |qsub AS (
        |  SELECT query_id, list_id, prn, g.s,
        |    list_slice(rdv, g.s * (len(rdv) // $mm) + 1,
        |      (g.s + 1) * (len(rdv) // $mm)) AS sv
        |  FROM qres CROSS JOIN generate_series(0, ${mm - 1}) g(s)),
        |qdt AS (
        |  SELECT q.query_id, q.list_id, q.prn, q.s, t.cid,
        |    CAST(round(CAST(CAST((${pqL2("q.sv", "t.c")}) * 1000000.0
        |      AS VARCHAR) AS DECIMAL(30,12)), 0) AS BIGINT) AS du
        |  FROM qsub q JOIN pc2 t ON t.s = q.s),
        |nps AS (SELECT CAST(unnest($npList) AS INTEGER) AS np),
        |cand AS (
        |  SELECT n2.np, d.query_id, c.vec_id,
        |    CAST(sum(d.du) AS BIGINT) AS adist_micro
        |  FROM nps n2
        |  JOIN qdt d ON d.prn <= n2.np
        |  JOIN lists l ON l.cid = d.list_id
        |  JOIN pcode c ON c.vec_id = l.vec_id AND c.s = d.s
        |    AND c.cid = d.cid
        |  WHERE d.query_id <> c.vec_id
        |  GROUP BY 1, 2, 3
        |  HAVING count(*) = $mm),
        |ann AS (
        |  SELECT np, query_id, vec_id FROM (
        |    SELECT np, query_id, vec_id,
        |      row_number() OVER (PARTITION BY np, query_id
        |        ORDER BY adist_micro, vec_id) AS rnk
        |    FROM cand) r
        |  WHERE rnk <= $TopK),
        |sl AS (
        |  SELECT np, query_id, vec_id FROM (
        |    SELECT np, query_id, vec_id,
        |      row_number() OVER (PARTITION BY np, query_id
        |        ORDER BY adist_micro, vec_id) AS rnk
        |    FROM cand) r
        |  WHERE rnk <= $ShortlistR),
        |tt0 AS (
        |  SELECT q.vec_id AS query_id, e.vec_id,
        |    CAST(round(CAST(CAST((${pqL2("q.dv", "e.dv")}) * 1000000.0
        |      AS VARCHAR) AS DECIMAL(30,12)), 0) AS BIGINT) AS dist_micro
        |  FROM e q, e
        |  WHERE q.vec_id < $NQueries AND e.vec_id <> q.vec_id),
        |truth AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY dist_micro, vec_id) AS rnk
        |    FROM tt0) r
        |  WHERE rnk <= $TopK),
        |annref AS (
        |  SELECT np, query_id, vec_id FROM (
        |    SELECT s.np, s.query_id, s.vec_id,
        |      row_number() OVER (PARTITION BY s.np, s.query_id
        |        ORDER BY t.dist_micro, s.vec_id) AS rnk
        |    FROM sl s JOIN tt0 t
        |      ON t.query_id = s.query_id AND t.vec_id = s.vec_id) r
        |  WHERE rnk <= $TopK),
        |ret AS (
        |  SELECT np, CAST(count(*) AS BIGINT) AS n_returned
        |  FROM ann GROUP BY 1),
        |hit AS (
        |  SELECT a.np, CAST(count(*) AS BIGINT) AS n_hits
        |  FROM ann a JOIN truth t
        |    ON t.query_id = a.query_id AND t.vec_id = a.vec_id
        |  GROUP BY 1),
        |retref AS (
        |  SELECT np, CAST(count(*) AS BIGINT) AS n_returned_ref
        |  FROM annref GROUP BY 1),
        |hitref AS (
        |  SELECT a.np, CAST(count(*) AS BIGINT) AS n_hits_ref
        |  FROM annref a JOIN truth t
        |    ON t.query_id = a.query_id AND t.vec_id = a.vec_id
        |  GROUP BY 1)
        |SELECT r.np AS nprobe, r.n_returned,
        |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
        |  rr.n_returned_ref,
        |  CAST(coalesce(hr.n_hits_ref, 0) AS BIGINT) AS n_hits_ref,
        |  CAST(${NQueries * TopK} AS BIGINT) AS n_total
        |FROM ret r LEFT JOIN hit h ON h.np = r.np
        |JOIN retref rr ON rr.np = r.np
        |LEFT JOIN hitref hr ON hr.np = r.np
        |ORDER BY r.np""".stripMargin
    },

    // q213: incremental near-dup pair-index maintenance — the oracle
    // is the FROM-SCRATCH recompute of the union corpus (the engine
    // emits the maintained kept ∪ recomputed plan), so hash equality
    // at the gate IS the maintenance law. The leg tag is re-derived
    // independently: dirty = batch docs ∪ base docs holding a
    // cap-crossing shingle. All-integer: the J ≥ 1/5 threshold is the
    // exact 6·n_common ≥ n_a + n_b test.
    "q213_dedup_index_maintain" -> {
      import graft.dedup.DedupMaintain.{K, MaxDf, BatchMod}
      s"""WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(list_slice(t, i + 1, i + $K), ' ') AS shingle
        |  FROM tk, unnest(range(0, len(t) - ${K - 1})) AS g(i)
        |  WHERE len(t) >= $K),
        |d AS (
        |  SELECT shingle, count(*) AS df,
        |    count(*) FILTER (doc_id % $BatchMod <> ${BatchMod - 1}) AS base_df
        |  FROM sh0 GROUP BY shingle),
        |crossing AS (
        |  SELECT shingle FROM d WHERE base_df <= $MaxDf AND df > $MaxDf),
        |dirty AS (
        |  SELECT DISTINCT doc_id FROM sh0 WHERE doc_id % $BatchMod = ${BatchMod - 1}
        |  UNION
        |  SELECT DISTINCT doc_id FROM sh0 JOIN crossing USING (shingle)
        |  WHERE doc_id % $BatchMod <> ${BatchMod - 1}),
        |sh AS (
        |  SELECT s.doc_id, s.shingle FROM sh0 s JOIN d USING (shingle)
        |  WHERE d.df <= $MaxDf),
        |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |cm AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT id_a, id_b, n_common, na.n_sh AS n_a, nb.n_sh AS n_b
        |  FROM cm
        |  JOIN sz na ON na.doc_id = id_a
        |  JOIN sz nb ON nb.doc_id = id_b
        |  WHERE n_common * 6 >= na.n_sh + nb.n_sh)
        |SELECT id_a, id_b, n_common, n_a, n_b,
        |  CASE WHEN id_a IN (SELECT doc_id FROM dirty)
        |         OR id_b IN (SELECT doc_id FROM dirty)
        |    THEN 'recomputed' ELSE 'kept' END AS leg
        |FROM p ORDER BY id_a, id_b""".stripMargin
    },

    // q215: erasure maintenance of the near-dup pair index — the
    // oracle is the FROM-SCRATCH recompute of the SURVIVOR corpus
    // (docs outside the %DeleteMod slice), capped on survivor-universe
    // df, so hash equality at the gate IS the erasure law: the engine's
    // maintained (kept ∪ recomputed-with-resurrections) plan must
    // equal it exactly. The leg tag is re-derived independently:
    // dirty = surviving docs holding an UN-CROSSING shingle
    // (full df > MaxDf ≥ survivor df) — deletion only lowers df, so
    // un-crossing is the only cap-status change possible.
    "q215_dedup_index_delete" -> {
      import graft.dedup.DedupMaintain.{K, MaxDf, DeleteMod}
      s"""WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(list_slice(t, i + 1, i + $K), ' ') AS shingle
        |  FROM tk, unnest(range(0, len(t) - ${K - 1})) AS g(i)
        |  WHERE len(t) >= $K),
        |d AS (
        |  SELECT shingle, count(*) AS df,
        |    count(*) FILTER (doc_id % $DeleteMod <> ${DeleteMod - 1})
        |      AS surv_df
        |  FROM sh0 GROUP BY shingle),
        |uncross AS (
        |  SELECT shingle FROM d WHERE df > $MaxDf AND surv_df <= $MaxDf),
        |dirty AS (
        |  SELECT DISTINCT doc_id FROM sh0 JOIN uncross USING (shingle)
        |  WHERE doc_id % $DeleteMod <> ${DeleteMod - 1}),
        |sh AS (
        |  SELECT s.doc_id, s.shingle FROM sh0 s JOIN d USING (shingle)
        |  WHERE d.surv_df <= $MaxDf
        |    AND s.doc_id % $DeleteMod <> ${DeleteMod - 1}),
        |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |cm AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT id_a, id_b, n_common, na.n_sh AS n_a, nb.n_sh AS n_b
        |  FROM cm
        |  JOIN sz na ON na.doc_id = id_a
        |  JOIN sz nb ON nb.doc_id = id_b
        |  WHERE n_common * 6 >= na.n_sh + nb.n_sh)
        |SELECT id_a, id_b, n_common, n_a, n_b,
        |  CASE WHEN id_a IN (SELECT doc_id FROM dirty)
        |         OR id_b IN (SELECT doc_id FROM dirty)
        |    THEN 'recomputed' ELSE 'kept' END AS leg
        |FROM p ORDER BY id_a, id_b""".stripMargin
    },

    // q214: the unified curation plan — the q200 funnel CTEs (quality
    // battery, passer-scoped keeper, containment screen) + the q48
    // cluster chain (n-prefixed, over ALL documents — dedup decisions
    // are gate-independent) + the q209 media chain, joined per corpus
    // document. All-integer flags; stage attribution is pure CASE
    // logic over the same flags the engine computes.
    "q214_curation_plan" ->
      s"""WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text FROM documents WHERE source <> 'src0'),
        |tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
        |    AS t
        |  FROM corpus),
        |tf AS (
        |  SELECT doc_id, u AS token, count(*) AS c
        |  FROM (SELECT doc_id, unnest(t) AS u FROM tk)
        |  GROUP BY 1, 2),
        |md AS (SELECT doc_id, max(c) AS mx FROM tf GROUP BY doc_id),
        |sig AS (
        |  SELECT tk.doc_id,
        |    CAST(len(t) AS BIGINT) AS n_tokens,
        |    round(CAST(coalesce(list_sum(list_transform(t, x -> length(x))),
        |      0) AS DOUBLE) / greatest(len(t), 1), 4) AS avg_token_len,
        |    round(CAST(len(list_distinct(t)) AS DOUBLE)
        |      / greatest(len(t), 1), 4) AS distinct_ratio,
        |    round(CAST(coalesce(md.mx, 0) AS DOUBLE)
        |      / greatest(len(t), 1), 4) AS top_token_ratio,
        |    len(list_filter(t, x -> x IN
        |      ('the','a','and','of','el','la','los','y','le','les','et',
        |       'une','der','die','und','das'))) AS stop_hits
        |  FROM tk LEFT JOIN md ON tk.doc_id = md.doc_id),
        |p AS (
        |  SELECT c.doc_id, c.text, s.n_tokens,
        |    NOT (s.n_tokens < 20 OR s.n_tokens > 95
        |      OR s.avg_token_len < 3.0 OR s.avg_token_len > 8.0
        |      OR s.distinct_ratio < 0.4 OR s.top_token_ratio > 0.2
        |      OR s.stop_hits < 1) AS pass
        |  FROM corpus c JOIN sig s ON s.doc_id = c.doc_id),
        |km AS (
        |  SELECT text, min(CASE WHEN pass THEN doc_id END) AS keeper
        |  FROM p GROUP BY text),
        |kept AS (
        |  SELECT p.doc_id, p.n_tokens, p.pass,
        |    p.pass AND p.doc_id = km.keeper AS keep
        |  FROM p JOIN km ON km.text = p.text),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, source,
        |    array_to_string(list_slice(t2, i + 1, i + 5), ' ') AS shingle
        |  FROM (SELECT doc_id, source,
        |      list_filter(string_split(text, ' '), x -> x <> '') AS t2
        |    FROM documents) dd, unnest(range(0, len(t2) - 4)) AS g(i)
        |  WHERE len(t2) >= 5),
        |shc AS (
        |  SELECT doc_id, shingle FROM (
        |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle)
        |      AS df
        |    FROM sh0 WHERE source <> 'src0')
        |  WHERE df <= 100),
        |she AS (SELECT doc_id, shingle FROM sh0 WHERE source = 'src0'),
        |sz AS (SELECT doc_id AS eval_id, count(*) AS n_eval_sh
        |  FROM she GROUP BY 1),
        |cm AS (
        |  SELECT c.doc_id AS doc_id, e.doc_id AS eval_id, count(*)
        |    AS n_common
        |  FROM shc c JOIN she e USING (shingle)
        |  GROUP BY 1, 2),
        |cd AS (
        |  SELECT DISTINCT doc_id
        |  FROM cm JOIN sz USING (eval_id)
        |  WHERE round(CAST(n_common AS DOUBLE) / n_eval_sh, 4) >= 0.5),
        |nsh AS (
        |  SELECT doc_id, shingle FROM (
        |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle)
        |      AS df
        |    FROM sh0)
        |  WHERE df <= 100),
        |nsz AS (SELECT doc_id, count(*) AS n_sh FROM nsh GROUP BY doc_id),
        |ncm AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        |  FROM nsh a JOIN nsh b
        |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |npp AS (
        |  SELECT id_a, id_b
        |  FROM ncm
        |  JOIN nsz na ON na.doc_id = id_a
        |  JOIN nsz nb ON nb.doc_id = id_b
        |  WHERE round(CAST(n_common AS DOUBLE)
        |    / (na.n_sh + nb.n_sh - n_common), 4) >= 0.2),
        |ned AS (
        |  SELECT id_a AS src, id_b AS dst FROM npp
        |  UNION ALL
        |  SELECT id_b, id_a FROM npp),
        |nwalk(id, lbl) AS (
        |  SELECT src, src FROM ned
        |  UNION
        |  SELECT e.src, w.lbl FROM ned e JOIN nwalk w ON w.id = e.dst),
        |ncc AS (
        |  SELECT id AS doc_id, min(lbl) AS cluster_id FROM nwalk GROUP BY id),
        |$ImageHashCte,
        |$AudioFpCte,
        |$VideoHashCte,
        |$VideoKfSetCtes,
        |ie AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.hi, b.hi))
        |    + bit_count(xor(a.lo, b.lo)) <= 3),
        |ae AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM afp a JOIN afp b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.hi, b.hi))
        |    + bit_count(xor(a.lo, b.lo)) <= 3),
        |ve AS (
        |  SELECT id_a, id_b FROM vpairs),
        |medges AS (
        |  SELECT id_a, id_b, 'image' AS modality FROM ie
        |  UNION ALL
        |  SELECT id_a, id_b, 'audio' FROM ae
        |  UNION ALL
        |  SELECT id_a, id_b, 'video' FROM ve),
        |med AS (
        |  SELECT id_a AS src, id_b AS dst FROM medges
        |  UNION
        |  SELECT id_b, id_a FROM medges),
        |mwalk(id, lbl) AS (
        |  SELECT src, src FROM med
        |  UNION
        |  SELECT e.src, w.lbl FROM med e JOIN mwalk w ON w.id = e.dst),
        |mcc AS (
        |  SELECT id AS doc_id, min(lbl) AS cluster_id
        |  FROM mwalk GROUP BY id),
        |mmem AS (
        |  SELECT cluster_id, min(doc_id) AS keeper
        |  FROM mcc GROUP BY 1),
        |mmods AS (
        |  SELECT c.cluster_id,
        |    string_agg(DISTINCT e.modality, ',' ORDER BY e.modality)
        |      AS modalities
        |  FROM medges e JOIN mcc c ON c.doc_id = e.id_a
        |  GROUP BY 1),
        |mplan AS (
        |  SELECT mcc.doc_id,
        |    CASE WHEN mcc.doc_id = m.keeper THEN 'keep' ELSE 'drop' END
        |      AS media_action,
        |    mo.modalities
        |  FROM mcc
        |  JOIN mmem m ON m.cluster_id = mcc.cluster_id
        |  JOIN mmods mo ON mo.cluster_id = mcc.cluster_id)
        |SELECT k.doc_id, k.n_tokens,
        |  CAST(CASE WHEN k.pass THEN 1 ELSE 0 END AS BIGINT)
        |    AS quality_pass,
        |  CAST(CASE WHEN k.keep THEN 1 ELSE 0 END AS BIGINT)
        |    AS exact_keep,
        |  CAST(CASE WHEN cd.doc_id IS NOT NULL THEN 1 ELSE 0 END
        |    AS BIGINT) AS contaminated,
        |  CAST(CASE WHEN ncc.cluster_id IS NULL
        |      OR ncc.cluster_id = k.doc_id THEN 1 ELSE 0 END AS BIGINT)
        |    AS neardup_keep,
        |  coalesce(mp.media_action, 'none') AS media_action,
        |  coalesce(mp.modalities, '') AS media_modalities,
        |  CASE WHEN NOT k.pass THEN 'quality'
        |       WHEN NOT k.keep THEN 'exact_dedup'
        |       WHEN cd.doc_id IS NOT NULL THEN 'decontamination'
        |       WHEN NOT (ncc.cluster_id IS NULL
        |         OR ncc.cluster_id = k.doc_id) THEN 'near_dup'
        |       WHEN coalesce(mp.media_action, 'none') = 'drop'
        |         THEN 'media_dedup'
        |       ELSE 'released' END AS drop_stage,
        |  CASE WHEN NOT k.pass OR NOT k.keep OR cd.doc_id IS NOT NULL
        |      OR NOT (ncc.cluster_id IS NULL OR ncc.cluster_id = k.doc_id)
        |      OR coalesce(mp.media_action, 'none') = 'drop'
        |    THEN 'drop' ELSE 'keep' END AS action
        |FROM kept k
        |LEFT JOIN cd ON cd.doc_id = k.doc_id
        |LEFT JOIN ncc ON ncc.doc_id = k.doc_id
        |LEFT JOIN mplan mp ON mp.doc_id = k.doc_id
        |ORDER BY k.doc_id""".stripMargin
  )

  /** The q202/q203 image-hash CTE chain: mirrors
    * [[graft.multimodal.PerceptualHash]] — the deterministic 32×32
    * pixel matrix (q82 mixer), 8×8 block sums, and the aHash packed
    * into two non-negative 32-bit halves. Integer end to end.
    */
  private def ImageHashCte: String =
    """seeds AS (
      |  SELECT d.doc_id, g.i,
      |    ((g.i // 32) // 4) * 8 + ((g.i % 32) // 4) AS b,
      |    (CASE WHEN d.doc_id % 4 = 1 AND g.i % 101 = 0 THEN d.doc_id
      |          WHEN d.doc_id % 4 <= 1 THEN d.doc_id - d.doc_id % 4
      |          ELSE d.doc_id END) * 131071 + g.i AS x
      |  FROM documents d CROSS JOIN generate_series(0, 1023) g(i)),
      |mx AS (
      |  SELECT doc_id, b,
      |    (506952114 * ((x % 2147483647 + 2147483647) % 2147483647)
      |      + 1013904223) % 2147483647 AS m1
      |  FROM seeds),
      |px AS (
      |  SELECT doc_id, b,
      |    ((1566083941 * ((m1 * m1) % 2147483647) + m1)
      |      % 2147483647) & 255 AS p
      |  FROM mx),
      |blocks AS (
      |  SELECT doc_id, b, CAST(sum(p) AS BIGINT) AS bs
      |  FROM px GROUP BY 1, 2),
      |tot AS (
      |  SELECT doc_id, CAST(sum(bs) AS BIGINT) AS ts
      |  FROM blocks GROUP BY 1),
      |hashes AS (
      |  SELECT blocks.doc_id,
      |    CAST(coalesce(sum(CASE WHEN b >= 32 AND bs * 64 > ts
      |      THEN 1::BIGINT << (b - 32) END), 0) AS BIGINT) AS hi,
      |    CAST(coalesce(sum(CASE WHEN b < 32 AND bs * 64 > ts
      |      THEN 1::BIGINT << b END), 0) AS BIGINT) AS lo
      |  FROM blocks JOIN tot ON tot.doc_id = blocks.doc_id
      |  GROUP BY 1)""".stripMargin

  /** The q204 audio-fingerprint CTE chain: mirrors
    * [[graft.multimodal.AudioFingerprint]] — the deterministic
    * 1040-sample signed-16 PCM stream (q82 mixer, 524287 seed
    * multiplier), 65 frame energies Σ|s|, and the 64 energy-delta bits
    * packed into two non-negative 32-bit halves. Integer end to end.
    * The LEFT JOIN keeps zero-bit clips (a monotonically falling
    * energy track packs to (0, 0)).
    */
  private def AudioFpCte: String =
    """aseeds AS (
      |  SELECT d.doc_id, g.t // 16 AS f,
      |    (CASE WHEN d.doc_id % 4 = 1 AND g.t % 211 = 0 THEN d.doc_id
      |          WHEN d.doc_id % 4 <= 1 THEN d.doc_id - d.doc_id % 4
      |          ELSE d.doc_id END) * 524287 + g.t AS x
      |  FROM documents d CROSS JOIN generate_series(0, 1039) g(t)),
      |amx AS (
      |  SELECT doc_id, f,
      |    (506952114 * ((x % 2147483647 + 2147483647) % 2147483647)
      |      + 1013904223) % 2147483647 AS m1
      |  FROM aseeds),
      |asmp AS (
      |  SELECT doc_id, f,
      |    (((1566083941 * ((m1 * m1) % 2147483647) + m1)
      |      % 2147483647) & 65535) - 32768 AS s
      |  FROM amx),
      |aen AS (
      |  SELECT doc_id, f, CAST(sum(abs(s)) AS BIGINT) AS e
      |  FROM asmp GROUP BY 1, 2),
      |abits AS (
      |  SELECT e1.doc_id, e1.f AS b
      |  FROM aen e1 JOIN aen e2
      |    ON e2.doc_id = e1.doc_id AND e2.f = e1.f + 1
      |  WHERE e2.e > e1.e),
      |afp AS (
      |  SELECT d.doc_id,
      |    CAST(coalesce(sum(CASE WHEN b >= 32
      |      THEN 1::BIGINT << (b - 32) END), 0) AS BIGINT) AS hi,
      |    CAST(coalesce(sum(CASE WHEN b < 32
      |      THEN 1::BIGINT << b END), 0) AS BIGINT) AS lo
      |  FROM documents d LEFT JOIN abits ON abits.doc_id = d.doc_id
      |  GROUP BY 1)""".stripMargin

  /** The q205/q210 video frame-hash CTE chain: mirrors
    * [[graft.multimodal.VideoKeyframes]] — 16 frames of deterministic
    * 16×16 pixels (scene base stream + per-frame jitter on every 53rd
    * pixel; doc ≡ 3 mod 4 re-derives from its ≡ 2 neighbor with a
    * re-seeded last scene — the planted near-dup), 4×4 block sums, and
    * the 16-bit integer mean test bs·16 > total per frame. Ends with
    * `fhash(doc_id, f, h)`.
    */
  private def VideoHashCte: String =
    """vfr AS (
      |  SELECT d.doc_id,
      |    d.doc_id - CASE WHEN d.doc_id % 4 = 3 THEN 1 ELSE 0 END AS eff,
      |    g.f,
      |    g.f // (2 + (d.doc_id
      |      - CASE WHEN d.doc_id % 4 = 3 THEN 1 ELSE 0 END) % 3) AS sc,
      |    15 // (2 + (d.doc_id
      |      - CASE WHEN d.doc_id % 4 = 3 THEN 1 ELSE 0 END) % 3)
      |      AS last_sc
      |  FROM documents d CROSS JOIN generate_series(0, 15) g(f)),
      |vseeds AS (
      |  SELECT v.doc_id, v.f, p.i,
      |    ((p.i // 16) // 4) * 4 + ((p.i % 16) // 4) AS b,
      |    (((CASE WHEN v.doc_id % 4 = 3 AND v.sc = v.last_sc
      |        THEN v.doc_id ELSE v.eff END) * 1000003 + v.sc * 8191
      |      + CASE WHEN p.i % 53 = 0 THEN (v.f + 1) * 127 ELSE 0 END)
      |      % 2147483647) * 131071 + p.i AS x
      |  FROM vfr v
      |  CROSS JOIN generate_series(0, 255) p(i)),
      |vmx AS (
      |  SELECT doc_id, f, b,
      |    (506952114 * ((x % 2147483647 + 2147483647) % 2147483647)
      |      + 1013904223) % 2147483647 AS m1
      |  FROM vseeds),
      |vpx AS (
      |  SELECT doc_id, f, b,
      |    ((1566083941 * ((m1 * m1) % 2147483647) + m1)
      |      % 2147483647) & 255 AS p
      |  FROM vmx),
      |vblocks AS (
      |  SELECT doc_id, f, b, CAST(sum(p) AS BIGINT) AS bs
      |  FROM vpx GROUP BY 1, 2, 3),
      |vtot AS (
      |  SELECT doc_id, f, CAST(sum(bs) AS BIGINT) AS ts
      |  FROM vblocks GROUP BY 1, 2),
      |fhash AS (
      |  SELECT vblocks.doc_id, vblocks.f,
      |    CAST(coalesce(sum(CASE WHEN bs * 16 > ts
      |      THEN 1::BIGINT << b END), 0) AS BIGINT) AS h
      |  FROM vblocks JOIN vtot
      |    ON vtot.doc_id = vblocks.doc_id AND vtot.f = vblocks.f
      |  GROUP BY 1, 2)""".stripMargin

  /** Index-order cosine between a corpus row (dv, nrm) and a
    * normalized-centroid row (cdv, cnrm) — the q37 fold the coarse
    * quantizer scores with (q208/q211).
    */
  private def IvfCosSql(dv: String, nrm: String, cdv: String,
                        cnrm: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(range(1, len($dv) + 1), i -> $dv[i] * $cdv[i])), " +
      s"(s, x) -> s + x) / ($nrm * $cnrm)"

  /** Normalized centroid view `$out(cid, cdv, cnrm)` over `$src(cid, c)`. */
  private def IvfCnSql(out: String, src: String): String =
    s"""$out AS (
    |  SELECT cid, list_transform(c, x -> CAST(x AS DOUBLE)) AS cdv,
    |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
    |      list_transform(c, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
    |      (s, x) -> s + x)) AS cnrm
    |  FROM $src)"""

  /** One coarse Lloyd round trained on corpus `$eSrc`/`$nSrc`: argmax
    * cosine assignment off `$from`, round(mean,6)→FLOAT rebuild into
    * `$cNext` — the q37 contract.
    */
  private def IvfLloydSql(a: String, from: String, m: String,
      cNext: String, eSrc: String, nSrc: String): String =
    s"""$a AS (
    |  SELECT vec_id, cid FROM (
    |    SELECT n.vec_id, t.cid,
    |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
    |        (${IvfCosSql("n.dv", "n.nrm", "t.cdv", "t.cnrm")})
    |        DESC NULLS LAST, t.cid) AS rn
    |    FROM $nSrc n, $from t) s
    |  WHERE rn = 1),
    |$m AS (
    |  SELECT cid, pos, round(avg(vv), 6) AS m
    |  FROM (
    |    SELECT a.cid,
    |      unnest(range(1, len(e.dv) + 1)) AS pos,
    |      unnest(e.dv) AS vv
    |    FROM $a a JOIN $eSrc e ON e.vec_id = a.vec_id) u
    |  GROUP BY cid, pos),
    |$cNext AS (
    |  SELECT cid, list_transform(list(m ORDER BY pos),
    |    x -> CAST(x AS FLOAT)) AS c
    |  FROM $m GROUP BY cid)"""

  /** The q37-convention coarse chain trained on `$eSrc`/`$nSrc`: plane
    * seed hash, hash-ordered init (`c0`), two Lloyd rounds, ending at
    * codebook `c2` (float lists) + normalized view `c2n`.
    */
  private def IvfCoarseChainSql(eSrc: String, nSrc: String,
                                nlist: Int): String = {
    import graft.functions.VectorHash._
    s"""sd AS (
    |  SELECT vec_id,
    |    (($PlaneA1 * (vec_id % $PlaneP) + $PlaneB1) % $PlaneP) AS m1
    |  FROM $eSrc),
    |sh2 AS (
    |  SELECT vec_id,
    |    (($PlaneA2 * ((m1 * m1) % $PlaneP) + m1) % $PlaneP) AS h
    |  FROM sd),
    |c0 AS (
    |  SELECT CAST(row_number() OVER (ORDER BY sh2.h, sh2.vec_id) - 1
    |      AS BIGINT) AS cid,
    |    e.v AS c
    |  FROM sh2 JOIN $eSrc e ON e.vec_id = sh2.vec_id
    |  QUALIFY row_number() OVER (ORDER BY sh2.h, sh2.vec_id)
    |    <= $nlist),
    |${IvfCnSql("c0n", "c0")},
    |${IvfLloydSql("a1", "c0n", "m1r", "c1", eSrc, nSrc)},
    |${IvfCnSql("c1n", "c1")},
    |${IvfLloydSql("a2", "c1n", "m2r", "c2", eSrc, nSrc)},
    |${IvfCnSql("c2n", "c2")}"""
  }

  /** Argmin-L2 PQ assignment of subspace CTE `$sub(s, vec_id, sv)`
    * against the trained `pc2`, with reconstruction d2 — ends as
    * `$out(s, vec_id, cid, d2)`.
    */
  private def PqAssignSql(out: String, sub: String): String = {
    def l2(sv: String, c: String): String =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform(range(1, len($sv) + 1), " +
        s"i -> ($sv[i] - $c[i]) * ($sv[i] - $c[i]))), " +
        s"(a, x) -> a + x)"
    s"""$out AS (
    |  SELECT s, vec_id, cid, d2 FROM (
    |    SELECT b.s, b.vec_id, t.cid,
    |      (${l2("b.sv", "t.c")}) AS d2,
    |      row_number() OVER (PARTITION BY b.s, b.vec_id ORDER BY
    |        (${l2("b.sv", "t.c")}) ASC NULLS LAST, t.cid) AS rn
    |    FROM $sub b JOIN pc2 t ON t.s = b.s) q
    |  WHERE rn = 1)"""
  }

  /** The q210 keyframe-set chain over `fhash`: the q205 lag/cut
    * selection, per-clip DISTINCT keyframe-hash sets, brute-force
    * shared-count pair scan, exact integer J ≥ 1/2 filter. Ends with
    * `vpairs(id_a, id_b, n_shared, n_a, n_b)`.
    */
  private def VideoKfSetCtes: String =
    """vlag AS (
      |  SELECT doc_id, f, h,
      |    bit_count(xor(h, lag(h) OVER (PARTITION BY doc_id ORDER BY f)))
      |      AS ham
      |  FROM fhash),
      |vkf AS (
      |  SELECT DISTINCT doc_id, h FROM vlag WHERE f = 0 OR ham > 4),
      |vsz AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n
      |  FROM vkf GROUP BY 1),
      |vsh AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(count(*) AS BIGINT) AS n_shared
      |  FROM vkf a JOIN vkf b ON a.h = b.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |vpairs AS (
      |  SELECT id_a, id_b, n_shared, sa.n AS n_a, sb.n AS n_b
      |  FROM vsh
      |  JOIN vsz sa ON sa.doc_id = vsh.id_a
      |  JOIN vsz sb ON sb.doc_id = vsh.id_b
      |  WHERE 3 * n_shared >= sa.n + sb.n)""".stripMargin

  /** The exact micro-unit conversion of a squared distance: reproduces
    * Spark's `round(d2 * 1e6, 0).cast("long")` (shortest-decimal-string
    * HALF_UP) via the VARCHAR→DECIMAL(30,12) round-trip.
    */
  private def PqMicroD2: String =
    "CAST(round(CAST(CAST(d2 * 1000000.0 AS VARCHAR) " +
      "AS DECIMAL(30,12)), 0) AS BIGINT)"

  /** The q206/q207 product-quantization training chain: mirrors
    * [[graft.similarity.ProductQuantization]] — M = 8 subspaces of
    * d/M dims (dimension-generic, like the engine), K = 16 centroids,
    * hash-ordered init from the q37 seed, two
    * argmin-L2 Lloyd rounds (ties → smaller cid; per-dimension
    * round(mean, 6) → FLOAT → DOUBLE between rounds — the q37
    * drift-swallowing contract), ending with the final code table
    * `pcode(s, vec_id, cid, d2)`.
    */
  private def PqCtes: String =
    """pe AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
      |  FROM embeddings),
      |""".stripMargin + PqChain

  /** The PQ body over any prior CTE `pe(vec_id, dv)` — q206/q207 feed
    * it raw embeddings, q208 feeds coarse residuals.
    */
  private def PqChain: String = {
    import graft.functions.VectorHash._
    import graft.similarity.ProductQuantization.{M => PqM, K => PqK}
    def l2(sv: String, c: String): String =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform(range(1, len($sv) + 1), i -> ($sv[i] - $c[i]) * ($sv[i] - $c[i]))), " +
        s"(a, x) -> a + x)"
    // one Lloyd round: argmin-L2 assignment off codebook `from`, then
    // the rounded per-dimension mean rebuild into codebook `cNext`
    def lloyd(a: String, from: String, m: String, cNext: String): String =
      s"""$a AS (
      |  SELECT s, vec_id, cid FROM (
      |    SELECT b.s, b.vec_id, t.cid,
      |      row_number() OVER (PARTITION BY b.s, b.vec_id ORDER BY
      |        (${l2("b.sv", "t.c")}) ASC NULLS LAST, t.cid) AS rn
      |    FROM psub b JOIN $from t ON t.s = b.s) q
      |  WHERE rn = 1),
      |$m AS (
      |  SELECT s, cid, pos, round(avg(vv), 6) AS m
      |  FROM (
      |    SELECT a.s, a.cid,
      |      unnest(range(1, len(b.sv) + 1)) AS pos,
      |      unnest(b.sv) AS vv
      |    FROM $a a JOIN psub b ON b.s = a.s AND b.vec_id = a.vec_id) u
      |  GROUP BY 1, 2, 3),
      |$cNext AS (
      |  SELECT s, cid, list_transform(list(m ORDER BY pos),
      |    x -> CAST(CAST(x AS FLOAT) AS DOUBLE)) AS c
      |  FROM $m GROUP BY 1, 2)"""
    s"""psub AS (
      |  SELECT g.s, vec_id,
      |    list_slice(dv, g.s * (len(dv) // $PqM) + 1,
      |      (g.s + 1) * (len(dv) // $PqM)) AS sv
      |  FROM pe CROSS JOIN generate_series(0, ${PqM - 1}) g(s)),
      |psd AS (
      |  SELECT vec_id,
      |    (($PlaneA1 * (vec_id % $PlaneP) + $PlaneB1) % $PlaneP) AS m1
      |  FROM pe),
      |psh AS (
      |  SELECT vec_id,
      |    (($PlaneA2 * ((m1 * m1) % $PlaneP) + m1) % $PlaneP) AS h
      |  FROM psd),
      |pinit AS (
      |  SELECT vec_id,
      |    CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS BIGINT) AS cid
      |  FROM psh QUALIFY row_number() OVER (ORDER BY h, vec_id) <= $PqK),
      |pc0 AS (
      |  SELECT psub.s, pinit.cid, psub.sv AS c
      |  FROM pinit JOIN psub ON psub.vec_id = pinit.vec_id),
      |${lloyd("pa1", "pc0", "pm1", "pc1")},
      |${lloyd("pa2", "pc1", "pm2", "pc2")},
      |pcode AS (
      |  SELECT s, vec_id, cid, d2 FROM (
      |    SELECT b.s, b.vec_id, t.cid,
      |      (${l2("b.sv", "t.c")}) AS d2,
      |      row_number() OVER (PARTITION BY b.s, b.vec_id ORDER BY
      |        (${l2("b.sv", "t.c")}) ASC NULLS LAST, t.cid) AS rn
      |    FROM psub b JOIN pc2 t ON t.s = b.s) q
      |  WHERE rn = 1)""".stripMargin
  }

  /** The spatial fixture CTE (q158-q160): mirrors
    * [[graft.operators.Spatial.spatialPoints]] — integer arithmetic
    * throughout, CAST to DOUBLE only at the end.
    */
  private def SpatialPts: String =
    """c AS (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer),
      |pts AS (
      |  SELECT k * 2 AS id,
      |    CAST((k * 2654435761) % 65536 AS DOUBLE) AS x,
      |    CAST((k * 40503) % 65536 AS DOUBLE) AS y
      |  FROM c
      |  UNION ALL
      |  SELECT k * 2 + 1,
      |    CAST((k * 2654435761) % 65536 + (k * 48271) % 401 - 200
      |      AS DOUBLE),
      |    CAST((k * 40503) % 65536 + (k * 16807) % 401 - 200 AS DOUBLE)
      |  FROM c)""".stripMargin

  /** The shared estimate half of the q142/q153 theta-sketch oracles:
    * shingle rolling hash → quadratic mixer (VectorHash constants
    * interpolated), DISTINCT on the MIXED hash (the mixer is not
    * injective, so dedup placement matters), per-source k smallest via
    * row_number, θ = k-th minimum (P in exact mode), strict-θ samples,
    * then pairwise ∩/∪ counts and the |S|·P/θ estimates in
    * BIGINT×BIGINT / DOUBLE arithmetic both engines evaluate
    * identically. Ends with the `est` CTE; callers append either the
    * q117 exact-twin mirror (q142) or a bare projection (q153).
    */
  private def thetaEstCtes: String = {
    import graft.functions.VectorHash._
    val k = graft.analytics.ThetaSketch.K
    s"""WITH tk AS (
      |  SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS t
      |  FROM documents),
      |shg AS (
      |  SELECT source, array_to_string(list_slice(t, i + 1, i + 5), ' ') AS s
      |  FROM tk, unnest(range(0, len(t) - 4)) AS g(i)
      |  WHERE len(t) >= 5),
      |hx AS (
      |  SELECT DISTINCT source,
      |    (($PlaneA2 * ((m1 * m1) % $PlaneP) + m1) % $PlaneP) AS h
      |  FROM (
      |    SELECT source, (($PlaneA1 * f + $PlaneB1) % $PlaneP) AS m1
      |    FROM (
      |      SELECT source,
      |        list_reduce(list_prepend(CAST(0 AS BIGINT),
      |          list_transform(range(1, length(s) + 1),
      |            j -> CAST(ascii(substring(s, j, 1)) AS BIGINT))),
      |          (h, c) -> (h * 31 + c) % 1000000007) AS f
      |      FROM shg) q0) q1),
      |samp AS (
      |  SELECT source, h,
      |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
      |    count(*) OVER (PARTITION BY source) AS n_h
      |  FROM hx),
      |th AS (
      |  SELECT source,
      |    CASE WHEN max(n_h) < $k THEN CAST($PlaneP AS BIGINT)
      |         ELSE max(CASE WHEN rn = $k THEN h END) END AS theta
      |  FROM samp GROUP BY source),
      |sm AS (
      |  SELECT s.source, s.h
      |  FROM samp s JOIN th ON th.source = s.source
      |  WHERE s.rn <= $k AND s.h < th.theta),
      |pairs AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |    least(a.theta, b.theta) AS th
      |  FROM th a JOIN th b ON a.source < b.source),
      |ints AS (
      |  SELECT p.source_a, p.source_b, count(*) AS n_i
      |  FROM pairs p
      |  JOIN sm x ON x.source = p.source_a AND x.h < p.th
      |  JOIN sm y ON y.source = p.source_b AND y.h = x.h
      |  GROUP BY 1, 2),
      |unis AS (
      |  SELECT p.source_a, p.source_b, count(DISTINCT s.h) AS n_u
      |  FROM pairs p JOIN sm s
      |    ON s.source IN (p.source_a, p.source_b) AND s.h < p.th
      |  GROUP BY 1, 2),
      |est AS (
      |  SELECT p.source_a, p.source_b,
      |    CAST(round(CAST(coalesce(i.n_i, 0) * $PlaneP AS DOUBLE) / p.th)
      |      AS BIGINT) AS est_common,
      |    CAST(round(CAST(coalesce(u.n_u, 0) * $PlaneP AS DOUBLE) / p.th)
      |      AS BIGINT) AS est_union,
      |    CASE WHEN coalesce(u.n_u, 0) = 0 THEN 0.0
      |         ELSE round(CAST(coalesce(i.n_i, 0) AS DOUBLE) / u.n_u, 4)
      |    END AS est_jaccard
      |  FROM pairs p
      |  LEFT JOIN ints i ON i.source_a = p.source_a AND i.source_b = p.source_b
      |  LEFT JOIN unis u ON u.source_a = p.source_a AND u.source_b = p.source_b)""".stripMargin
  }
}

/** Builders for oracle-SQL fragments whose constants must track the
  * engine's — interpolating from the shared Scala objects means the two
  * sides cannot drift.
  */
object OracleSqlHelpers {
  /** The hyperplane table for a `bits`-plane sign sketch, as three CTEs
    * (`d`, `pl`, `planes`) expecting an `e(vec_id, v)` CTE in scope:
    * plane p's components in ascending-dim order as the list `cs`,
    * computed by the same quadratic-congruential mixer as
    * [[graft.functions.VectorHash.planeComponent]] (SQL j is 1-based, so
    * the kernel's p·stride + j + 1 with 0-based j becomes
    * p·stride + j here). Margin-formatted for splicing into the
    * stripMargin templates above.
    */
  def planesCtes(bits: Int): String = {
    import graft.functions.VectorHash._
    s"""d AS (SELECT max(len(v)) AS dim FROM e),
      |        |pl AS (
      |        |  SELECT p, j,
      |        |    ($PlaneA1 * (p * $PlaneDimStride + j) + $PlaneB1) % $PlaneP AS m1
      |        |  FROM unnest(range(0, $bits)) AS gp(p), d,
      |        |       unnest(range(1, dim + 1)) AS gj(j)),
      |        |planes AS (
      |        |  SELECT p, list(
      |        |    CAST((($PlaneA2 * ((m1 * m1) % $PlaneP) + m1) % $PlaneP)
      |        |      % 2000001 - 1000000 AS DOUBLE) / 1000000.0
      |        |    ORDER BY j) AS cs
      |        |  FROM pl GROUP BY p)""".stripMargin
  }

  /** The engine's VADER-style compound sentiment scorer, replayed as SQL
    * over the `documents` table: a `sc(doc_id, lang, score)` CTE chain.
    *
    * The lexicon/booster/negator tables are VALUES lists generated from
    * [[graft.text.Sentiment]]'s own maps, and every accumulation the
    * scorer performs sequentially (per-hit booster additions in window
    * order, per-doc hit additions in token order) is mirrored as a
    * position-ORDERED `list(...)` folded with `list_reduce` — so the
    * double arithmetic reproduces the JVM scorer BIT-FOR-BIT, not just
    * approximately. Label thresholds compare against FLOAT-cast
    * literals because the engine compares in float (a double 0.05 sits
    * 7.4e-10 below float 0.05f — a real, if thin, divergence window).
    */
  def sentimentScoreCtes: String = {
    import graft.text.Sentiment
    def esc(s: String) = s.replace("'", "''")
    val lex = Sentiment.lexicon.toSeq.sortBy(_._1)
      .map { case (t, v) => s"('${esc(t)}', ${v})" }.mkString(", ")
    val boo = Sentiment.boosters.toSeq.sortBy(_._1)
      .map { case (t, v) => s"('${esc(t)}', ${v})" }.mkString(", ")
    val neg = Sentiment.negators.toSeq.sorted
      .map(t => s"('${esc(t)}')").mkString(", ")
    val negS = Sentiment.NegationScalar
    val caps = Sentiment.CapsBoost
    val excl = Sentiment.ExclBoost
    s"""lex AS (SELECT * FROM (VALUES $lex) AS t(tok, v)),
      |        |boo AS (SELECT * FROM (VALUES $boo) AS t(tok, b)),
      |        |neg AS (SELECT * FROM (VALUES $neg) AS t(tok)),
      |        |t0 AS (SELECT doc_id, lang, text FROM documents),
      |        |tk AS (
      |        |  SELECT doc_id,
      |        |    list_filter(
      |        |      list_transform(
      |        |        list_filter(string_split_regex(text, '\\s+'), x -> x <> ''),
      |        |        x -> regexp_replace(regexp_replace(x,
      |        |          '^[^a-zA-Z0-9'']+', ''), '[^a-zA-Z0-9'']+$$', '')),
      |        |      x -> x <> '') AS cl
      |        |  FROM t0),
      |        |flags AS (
      |        |  SELECT doc_id, cl,
      |        |    len(list_filter(cl, x -> x <> upper(x))) = 0 AS allcaps
      |        |  FROM tk),
      |        |pos AS (
      |        |  SELECT doc_id, allcaps, i, cl[i] AS ct, lower(cl[i]) AS lt, cl
      |        |  FROM flags, unnest(range(1, len(cl) + 1)) AS g(i)),
      |        |hits AS (
      |        |  SELECT p.doc_id, p.i, p.cl, lex.v AS base,
      |        |    CASE WHEN NOT p.allcaps AND p.ct = upper(p.ct)
      |        |        AND regexp_matches(p.ct, '[a-zA-Z]')
      |        |      THEN CASE WHEN lex.v >= 0 THEN $caps ELSE -$caps END
      |        |      ELSE 0.0 END AS capsadd
      |        |  FROM pos p JOIN lex ON lex.tok = p.lt),
      |        |wrows AS (
      |        |  SELECT h.doc_id, h.i, g.j, bo.b AS braw,
      |        |    CASE h.i - g.j WHEN 1 THEN 1.0 WHEN 2 THEN 0.95
      |        |      ELSE 0.9 END AS dscale,
      |        |    (ng.tok IS NOT NULL) AS isneg
      |        |  FROM hits h
      |        |  CROSS JOIN unnest(range(greatest(1, h.i - 3), h.i)) AS g(j)
      |        |  LEFT JOIN boo bo ON bo.tok = lower(h.cl[g.j])
      |        |  LEFT JOIN neg ng ON ng.tok = lower(h.cl[g.j])),
      |        |wagg AS (
      |        |  SELECT doc_id, i,
      |        |    list(braw * dscale ORDER BY j) FILTER (WHERE braw IS NOT NULL)
      |        |      AS scaleds,
      |        |    coalesce(bool_or(isneg), false) AS negd
      |        |  FROM wrows GROUP BY doc_id, i),
      |        |vhit AS (
      |        |  SELECT h.doc_id, h.i,
      |        |    CASE WHEN coalesce(w.negd, false) THEN $negS ELSE 1.0 END
      |        |      * list_reduce(
      |        |          list_prepend(h.base + h.capsadd,
      |        |            coalesce(w.scaleds, CAST([] AS DOUBLE[]))),
      |        |          (s, x) -> s + CASE WHEN h.base >= 0 THEN x
      |        |            ELSE -x END) AS v
      |        |  FROM hits h LEFT JOIN wagg w
      |        |    ON w.doc_id = h.doc_id AND w.i = h.i),
      |        |dv AS (
      |        |  SELECT doc_id, list(v ORDER BY i) AS vs
      |        |  FROM vhit GROUP BY doc_id),
      |        |tot AS (
      |        |  SELECT t0.doc_id, t0.lang,
      |        |    coalesce(list_reduce(
      |        |      list_prepend(CAST(0.0 AS DOUBLE), dv.vs),
      |        |      (s, x) -> s + x), 0.0) AS total,
      |        |    least(length(t0.text)
      |        |      - length(replace(t0.text, '!', '')), 4) AS xcount
      |        |  FROM t0 LEFT JOIN dv ON dv.doc_id = t0.doc_id),
      |        |amp AS (
      |        |  SELECT doc_id, lang,
      |        |    CASE WHEN xcount > 0 AND total <> 0.0
      |        |      THEN total + CASE WHEN total > 0 THEN 1.0 ELSE -1.0 END
      |        |        * xcount * $excl
      |        |      ELSE total END AS t2
      |        |  FROM tot),
      |        |sc AS (
      |        |  SELECT doc_id, lang,
      |        |    CAST(greatest(-1.0, least(1.0,
      |        |      t2 / sqrt(t2 * t2 + 15.0))) AS FLOAT) AS score
      |        |  FROM amp)""".stripMargin
  }
}
