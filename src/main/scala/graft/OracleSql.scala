package graft

import graft.functions.TextFunctions.{LangMarkers, StopEn}

/** DuckDB oracle SQL — the exact relational mirror of every
  * SparkEntry.queries entry (driver runs these via DuckDB at sf0.01 and
  * hash-compares against the Spark parquet output).
  *
  * Parity rules (SURVEY.md §6):
  *  - identical output column aliases and integer widths (BIGINT),
  *  - `floor(x*1e6+0.5)/1e6` rounding (bit-exact in both engines,
  *    unlike `round`),
  *  - per-row integerization before double sums (order-independent),
  *  - sequential left-to-right `list_reduce` folds mirroring Spark's
  *    `aggregate` HOF for vector math,
  *  - explicit `floor` before every double→int cast (DuckDB casts
  *    round, Spark casts truncate),
  *  - explicit tiebreaks in every top-k / window.
  */
object OracleSql {

  private def r6(e: String) = s"(floor(($e) * 1000000.0 + 0.5) / 1000000.0)"
  private def cents(e: String, scale: String) = s"CAST(floor(($e) * $scale + 0.5) AS BIGINT)"
  private val toks = "string_split_regex(trim(text), '\\s+')"
  private def dot(a: String, b: String) =
    s"list_reduce(list_transform(generate_series(1, len($a)), i -> $a[i]::DOUBLE * $b[i]::DOUBLE), (x, y) -> x + y)"
  private def dist2(a: String, b: String) =
    s"list_reduce(list_transform(generate_series(1, len($a)), i -> ($a[i]::DOUBLE - $b[i]::DOUBLE) * ($a[i]::DOUBLE - $b[i]::DOUBLE)), (x, y) -> x + y)"
  private def nrm(a: String) = s"sqrt(${dot(a, a)})"

  // ---- E. relational core ----------------------------------------------

  val q1Agg: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  sum(${cents("l_quantity", "100.0")}) / 100.0 AS sum_qty,
       |  sum(${cents("l_extendedprice", "100.0")}) / 100.0 AS sum_base_price,
       |  sum(${cents("l_extendedprice * (1.0 - l_discount)", "10000.0")}) / 10000.0 AS sum_disc_price,
       |  (sum(${cents("l_quantity", "100.0")}) / 100.0) / count(*) AS avg_qty,
       |  count(*) AS count_order
       |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       |GROUP BY 1, 2""".stripMargin

  val q3Join: String =
    s"""SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date, revenue FROM (
       |  SELECT l_orderkey, o_orderdate,
       |    sum(${cents("l_extendedprice * (1.0 - l_discount)", "10000.0")}) / 10000.0 AS revenue
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  WHERE c_mktsegment = 'BUILDING'
       |    AND o_orderdate < TIMESTAMP '1998-01-01'
       |    AND l_shipdate > TIMESTAMP '1998-01-01'
       |  GROUP BY 1, 2
       |) ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  val qWindow: String =
    s"""SELECT o_custkey, o_orderkey,
       |  CAST(row_number() OVER w AS BIGINT) AS rn,
       |  lag(o_totalprice, 1) OVER w AS prev_price,
       |  sum(${cents("o_totalprice", "100.0")}) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0 AS running_total
       |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin

  val qTopnGroup: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
      |  FROM orders
      |) WHERE rn <= 2""".stripMargin

  val qRollup: String =
    s"""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       |  coalesce(l_linestatus, 'ALL') AS linestatus,
       |  sum(${cents("l_quantity", "100.0")}) / 100.0 AS sum_qty,
       |  count(*) AS n
       |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin

  val qSemiAnti: String =
    """WITH w AS (SELECT c_nationkey, count(*) AS n_with FROM customer c
      |  WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) GROUP BY 1),
      |wo AS (SELECT c_nationkey, count(*) AS n_without FROM customer c
      |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) GROUP BY 1)
      |SELECT n_name,
      |  coalesce(w.n_with, 0) AS n_with_orders,
      |  coalesce(wo.n_without, 0) AS n_without_orders
      |FROM nation
      |LEFT JOIN w ON n_nationkey = w.c_nationkey
      |LEFT JOIN wo ON n_nationkey = wo.c_nationkey""".stripMargin

  val qEventsSessionize: String =
    s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
       |l AS (SELECT user_id, event_id, us,
       |  lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev FROM e),
       |n AS (SELECT user_id, event_id, us,
       |  CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS is_new FROM l),
       |s AS (SELECT user_id, us,
       |  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM n)
       |SELECT user_id, session_id, count(*) AS n_events,
       |  min(us) AS start_us, max(us) AS end_us,
       |  ${r6("(max(us) - min(us)) / 1000000.0")} AS duration_s
       |FROM s GROUP BY 1, 2""".stripMargin

  val qEventsFunnel: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |u AS (SELECT DISTINCT user_id FROM e),
      |v AS (SELECT user_id, min(us) AS view_us FROM e WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(us) AS click_us FROM e JOIN v USING(user_id)
      |  WHERE event_type = 'click' AND us > view_us GROUP BY 1),
      |p AS (SELECT e.user_id, min(us) AS purchase_us FROM e JOIN c USING(user_id)
      |  WHERE event_type = 'purchase' AND us > click_us GROUP BY 1)
      |SELECT u.user_id, view_us, click_us, purchase_us
      |FROM u LEFT JOIN v USING(user_id) LEFT JOIN c USING(user_id) LEFT JOIN p USING(user_id)""".stripMargin

  val qCorr: String =
    s"""WITH m AS (SELECT l_returnflag, count(*) AS n,
       |  CAST(sum(${cents("l_quantity", "100.0")}) AS BIGINT) AS sx,
       |  CAST(sum(${cents("l_extendedprice", "1.0")}) AS BIGINT) AS sy,
       |  CAST(sum(${cents("l_quantity", "100.0")} * ${cents("l_extendedprice", "1.0")}) AS BIGINT) AS sxy,
       |  CAST(sum(${cents("l_quantity", "100.0")} * ${cents("l_quantity", "100.0")}) AS BIGINT) AS sxx,
       |  CAST(sum(${cents("l_extendedprice", "1.0")} * ${cents("l_extendedprice", "1.0")}) AS BIGINT) AS syy
       |FROM lineitem GROUP BY 1)
       |SELECT l_returnflag, n,
       |  ${r6("(n * 1.0 * sxy - sx * 1.0 * sy) / (sqrt(n * 1.0 * sxx - sx * 1.0 * sx) * sqrt(n * 1.0 * syy - sy * 1.0 * sy))")} AS corr_qty_price,
       |  ${r6("sqrt((n * 1.0 * sxx - sx * 1.0 * sx) / (n * 1.0 * (n * 1.0 - 1.0))) / 100.0")} AS stddev_qty
       |FROM m""".stripMargin

  val qSetops: String =
    """WITH b AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
      |w AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders),
      |h AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 150000.0)
      |SELECT
      |  (SELECT count(*) FROM (SELECT * FROM b INTERSECT SELECT * FROM w)) AS n_building_with_orders,
      |  (SELECT count(*) FROM (SELECT * FROM b EXCEPT SELECT * FROM w)) AS n_building_no_orders,
      |  (SELECT count(*) FROM (SELECT * FROM b INTERSECT SELECT * FROM h)) AS n_building_high_value""".stripMargin

  val qFuzzy: String =
    s"""WITH v AS (SELECT DISTINCT tok FROM (SELECT unnest($toks) AS tok FROM documents)
       |  WHERE regexp_matches(tok, '^[A-Za-z]+$$'))
       |SELECT a.tok AS tok_a, b.tok AS tok_b,
       |  CAST(levenshtein(a.tok, b.tok) AS BIGINT) AS dist
       |FROM v a JOIN v b ON a.tok < b.tok
       |WHERE levenshtein(a.tok, b.tok) <= 2""".stripMargin

  val qCube: String =
    s"""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       |  coalesce(l_linestatus, 'ALL') AS linestatus,
       |  sum(${cents("l_quantity", "100.0")}) / 100.0 AS sum_qty,
       |  count(*) AS n
       |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin

  val qConditionalAgg: String =
    s"""SELECT o_orderpriority, count(*) AS n,
       |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
       |  count(*) FILTER (WHERE o_totalprice > 100000.0) AS n_large,
       |  sum(CASE WHEN o_orderstatus = 'O' THEN ${cents("o_totalprice", "100.0")} ELSE 0 END) / 100.0 AS open_value
       |FROM orders GROUP BY 1""".stripMargin

  val qPercentiles: String =
    s"""SELECT l_returnflag,
       |  ${r6("quantile_cont(l_extendedprice, 0.5)")} AS p50,
       |  ${r6("quantile_cont(l_extendedprice, 0.9)")} AS p90,
       |  ${r6("quantile_cont(l_extendedprice, 0.99)")} AS p99
       |FROM lineitem GROUP BY 1""".stripMargin

  val qEventsAttribution: String =
    s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
       |w AS (SELECT user_id, event_id, event_type, us,
       |  last_value(CASE WHEN event_type = 'click' THEN us END IGNORE NULLS)
       |    OVER (PARTITION BY user_id ORDER BY us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_us
       |FROM e)
       |SELECT user_id, event_id, us AS purchase_us, last_click_us,
       |  (last_click_us IS NOT NULL) AS attributed,
       |  ${r6("(us - last_click_us) / 1000000.0")} AS lag_s
       |FROM w WHERE event_type = 'purchase'""".stripMargin

  val qEventsRetention: String =
    """WITH d AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |c AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1)
      |SELECT cohort_day, day - cohort_day AS k,
      |  CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_users
      |FROM d JOIN c USING(user_id)
      |WHERE day - cohort_day <= 7
      |GROUP BY 1, 2""".stripMargin

  val qJson: String =
    s"""SELECT event_type, count(*) AS n,
       |  CAST(sum(k) AS BIGINT) AS sum_k, max(k) AS max_k,
       |  ${r6("sum(k) / (1.0 * count(*))")} AS avg_k
       |FROM (SELECT event_type, CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k FROM events)
       |GROUP BY 1""".stripMargin

  // ---- B. document pipeline --------------------------------------------

  private val chunkCte =
    s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
       |c AS (SELECT doc_id, tk,
       |  unnest(generate_series(0, CAST(ceil(len(tk) / 20.0) AS BIGINT) - 1)) AS chunk_idx FROM t),
       |ch AS (SELECT doc_id, chunk_idx,
       |  md5(array_to_string(list_slice(tk, chunk_idx * 20 + 1, chunk_idx * 20 + 20), ' ')) AS chunk_hash,
       |  CAST(len(list_slice(tk, chunk_idx * 20 + 1, chunk_idx * 20 + 20)) AS BIGINT) AS n_words FROM c)""".stripMargin

  val docChunk: String =
    s"""$chunkCte
       |SELECT doc_id, chunk_idx, chunk_hash, n_words FROM ch""".stripMargin

  val docParse: String =
    s"""WITH t AS (SELECT doc_id, source, lang, ($toks)[1] AS first_tok FROM documents),
       |n AS (SELECT doc_id, source, lang,
       |  strpos('0123456789abcdef', substr(md5(first_tok), 1, 1)) - 1 AS nib FROM t),
       |cat AS (SELECT doc_id, source, lang,
       |  CASE nib % 3 WHEN 0 THEN 'idea' WHEN 1 THEN 'quote' ELSE 'question' END AS category FROM n)
       |SELECT doc_id, category,
       |  CAST(row_number() OVER (PARTITION BY category ORDER BY doc_id) AS BIGINT) AS cat_idx,
       |  source, lang
       |FROM cat""".stripMargin

  private val cleanExpr =
    """trim(regexp_replace(regexp_replace(text, '\[([^\]]*)\]\([^)]*\)', '\1', 'g'), '\s+', ' ', 'g'))"""

  val docClean: String =
    s"""SELECT doc_id, md5($cleanExpr) AS clean_hash,
       |  CAST(length($cleanExpr) AS BIGINT) AS n_chars_clean
       |FROM documents""".stripMargin

  val docStats: String =
    s"""WITH t AS (SELECT source, lang, n_chars, len($toks) AS n_toks FROM documents)
       |SELECT source, count(*) AS n_docs,
       |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |  CAST(sum(n_toks) AS BIGINT) AS sum_toks,
       |  ${r6("sum(n_chars) / (1.0 * count(*))")} AS avg_chars,
       |  ${r6("sum(n_toks) / (1.0 * count(*))")} AS avg_toks
       |FROM t GROUP BY 1""".stripMargin

  // ---- D. text analysis ------------------------------------------------

  private val markerValues =
    LangMarkers.map { case (l, w) => s"('$l', '$w')" }.mkString(", ")

  val textLangid: String =
    s"""WITH m(cand, word) AS (VALUES $markerValues),
       |langs AS (SELECT DISTINCT cand FROM m),
       |d AS (SELECT doc_id, unnest($toks) AS word FROM documents),
       |h AS (SELECT doc_id, cand, count(*) AS score FROM d JOIN m USING(word) GROUP BY 1, 2),
       |sc AS (SELECT doc_id, lang, cand, coalesce(score, 0) AS score
       |  FROM (SELECT doc_id, lang FROM documents) CROSS JOIN langs LEFT JOIN h USING(doc_id, cand)),
       |best AS (SELECT doc_id, lang, cand FROM (
       |  SELECT doc_id, lang, cand,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rn FROM sc)
       |  WHERE rn = 1)
       |SELECT lang, cand AS pred_lang, count(*) AS n_docs FROM best GROUP BY 1, 2""".stripMargin

  private val stopList = StopEn.map(w => s"'$w'").mkString(", ")

  val textQuality: String =
    s"""WITH t AS (SELECT doc_id, text, $toks AS tk FROM documents),
       |q AS (SELECT doc_id,
       |  CAST(length(text) AS BIGINT) AS n_chars_t,
       |  CAST(len(tk) AS BIGINT) AS n_toks,
       |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
       |  CAST(len(list_filter(tk, w -> w IN ($stopList))) AS BIGINT) AS n_stop,
       |  CAST(list_reduce(list_transform(tk, w -> CAST(length(w) AS BIGINT)), (x, y) -> x + y) AS BIGINT) AS sum_wlen
       |FROM t)
       |SELECT doc_id, n_chars_t, n_toks,
       |  ${r6("n_punct / (1.0 * greatest(n_chars_t, 1))")} AS punct_ratio,
       |  ${r6("n_stop / (1.0 * n_toks)")} AS stop_ratio,
       |  ${r6("sum_wlen / (1.0 * n_toks)")} AS mean_wlen,
       |  ${r6("1.0 / (1.0 + exp(-(0.02 * n_toks + 4.0 * (n_stop / (1.0 * n_toks)) - 8.0 * (n_punct / (1.0 * greatest(n_chars_t, 1))) - 1.0)))")} AS quality
       |FROM q""".stripMargin

  val textTokens: String =
    s"""SELECT doc_id,
       |  CAST(length(text) AS BIGINT) AS n_chars_t,
       |  CAST(len($toks) AS BIGINT) AS n_ws_tokens,
       |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_re_tokens,
       |  ${r6(s"length(text) / (1.0 * len($toks))")} AS chars_per_token
       |FROM documents""".stripMargin

  val textHeavyHitters: String =
    s"""WITH t AS (SELECT lang, unnest($toks) AS token FROM documents),
       |c AS (SELECT lang, token, count(*) AS cnt FROM t GROUP BY 1, 2)
       |SELECT lang, token, cnt, rn FROM (
       |  SELECT lang, token, cnt,
       |    CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS BIGINT) AS rn
       |  FROM c) WHERE rn <= 5""".stripMargin

  val textSampleBottomk: String =
    """SELECT lang, rnk, h FROM (
      |  SELECT lang, md5(CAST(doc_id AS VARCHAR)) AS h,
      |    CAST(row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR))) AS BIGINT) AS rnk
      |  FROM documents) WHERE rnk <= 5""".stripMargin

  val textFingerprint: String =
    s"""WITH f AS (SELECT doc_id,
       |  md5(array_to_string(list_sort(list_distinct($toks)), ' ')) AS fingerprint FROM documents)
       |SELECT doc_id, fingerprint,
       |  CAST(count(*) OVER (PARTITION BY fingerprint) AS BIGINT) AS n_same
       |FROM f""".stripMargin

  // ---- A. vector search ------------------------------------------------

  // a zero norm (all-zero vector) normalizes to the zero vector
  private def overNorm(x: String) = s"CASE WHEN nv = 0 THEN $x ELSE $x / nv END"

  val vsNorm: String =
    s"""WITH n AS (SELECT vec_id, embedding AS a, ${nrm("embedding")} AS nv FROM embeddings)
       |SELECT vec_id, ${r6("nv")} AS l2_norm,
       |  ${r6(s"list_reduce(list_transform(a, x -> ${overNorm("x::DOUBLE")}), (x, y) -> x + y)")} AS checksum,
       |  ${r6(overNorm("a[1]::DOUBLE"))} AS c0
       |FROM n""".stripMargin

  // int8 codes of x at a per-vector scale; a zero scale gives code 0
  private def int8Code(x: String, scale: String) =
    s"CASE WHEN $scale > 0 THEN CAST(floor($x::DOUBLE / $scale * 127 + 0.5) AS BIGINT) ELSE 0 END"

  val vsQuantize: String =
    s"""WITH s AS (SELECT vec_id, embedding AS e,
       |  list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS scale FROM embeddings),
       |q AS (SELECT vec_id, scale,
       |  list_transform(e, x -> ${int8Code("x", "scale")}) AS qv FROM s)
       |SELECT vec_id, ${r6("scale")} AS scale,
       |  CAST(list_reduce(qv, (a, b) -> a + b) AS BIGINT) AS sum_q,
       |  CAST(len(list_filter(qv, v -> abs(v) = 127)) AS BIGINT) AS n_sat
       |FROM q""".stripMargin

  private val lshPlanes =
    """planes AS (SELECT p, list_transform(generate_series(1, 64),
      |  d -> (strpos('0123456789abcdef', substr(md5(CAST(p AS VARCHAR) || ',' || CAST(d AS VARCHAR)), 1, 1)) - 1 - 7.5) / 8.0) AS w
      |FROM (SELECT unnest(generate_series(0, 3)) AS p))""".stripMargin

  val vsLshAnn: String =
    s"""WITH $lshPlanes,
       |proj AS (SELECT e.vec_id, p.p, ${dot("e.embedding", "p.w")} AS pr
       |  FROM embeddings e CROSS JOIN planes p),
       |bk AS (SELECT vec_id,
       |  CAST(sum(CASE WHEN pr > 0 THEN CAST(power(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY 1),
       |q AS (SELECT e.embedding AS qv, bk.bucket AS qbucket
       |  FROM embeddings e JOIN bk USING(vec_id) WHERE e.vec_id = 0),
       |sc AS (SELECT bk.bucket, e.vec_id, ${dot("e.embedding", "qv")} AS s
       |  FROM embeddings e JOIN bk USING(vec_id), q WHERE bk.bucket = q.qbucket)
       |SELECT bucket, vec_id, ${r6("s")} AS score FROM sc ORDER BY s DESC, vec_id LIMIT 5""".stripMargin

  /** LSH measured recall (LshAnn.recallReport, probes=2 → the query
    * bucket plus its first hamming flip): approximate top-k from the
    * bucket equi-join vs brute-force top-k, same tiebreaks.
    */
  val vsLshRecall: String =
    s"""WITH $lshPlanes,
       |proj AS (SELECT e.vec_id, p.p, ${dot("e.embedding", "p.w")} AS pr
       |  FROM embeddings e CROSS JOIN planes p),
       |bk AS (SELECT vec_id,
       |  CAST(sum(CASE WHEN pr > 0 THEN CAST(power(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY 1),
       |qs AS ($evalSampleBody),
       |q AS (SELECT s.query_id, s.qv, bk.bucket AS qb
       |  FROM qs s JOIN bk ON bk.vec_id = s.query_id),
       |pb AS (SELECT query_id, qv, unnest([qb, CAST(xor(qb, 1) AS BIGINT)]) AS bucket FROM q),
       |app AS (SELECT pb.query_id, e.vec_id, ${dot("e.embedding", "pb.qv")} AS s
       |  FROM embeddings e JOIN bk USING (vec_id) JOIN pb ON bk.bucket = pb.bucket),
       |ar AS (SELECT query_id, vec_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id) AS rnk FROM app),
       |atop AS (SELECT query_id, vec_id FROM ar WHERE rnk <= 5),
       |sc AS (SELECT q.query_id, e.vec_id, ${dot("e.embedding", "q.qv")} AS s
       |  FROM embeddings e, q),
       |br AS (SELECT query_id, vec_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id) AS rnk FROM sc),
       |bt AS (SELECT query_id, vec_id FROM br WHERE rnk <= 5)
       |SELECT bt.query_id,
       |  CAST(sum(CASE WHEN atop.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  ${r6("sum(CASE WHEN atop.vec_id IS NOT NULL THEN 1 ELSE 0 END) / 5.0")} AS recall
       |FROM bt LEFT JOIN atop ON bt.query_id = atop.query_id AND bt.vec_id = atop.vec_id
       |GROUP BY 1""".stripMargin

  /** LSH nDCG@5 (LshAnn.ndcgReport): the vsLshRecall candidate stream
    * with positions, scored by the shared integerized-DCG contract.
    */
  val vsLshNdcg: String =
    s"""WITH $lshPlanes,
       |proj AS (SELECT e.vec_id, p.p, ${dot("e.embedding", "p.w")} AS pr
       |  FROM embeddings e CROSS JOIN planes p),
       |bk AS (SELECT vec_id,
       |  CAST(sum(CASE WHEN pr > 0 THEN CAST(power(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY 1),
       |qs AS ($evalSampleBody),
       |q AS (SELECT s.query_id, s.qv, bk.bucket AS qb
       |  FROM qs s JOIN bk ON bk.vec_id = s.query_id),
       |pb AS (SELECT query_id, qv, unnest([qb, CAST(xor(qb, 1) AS BIGINT)]) AS bucket FROM q),
       |app AS (SELECT pb.query_id, e.vec_id, ${dot("e.embedding", "pb.qv")} AS s
       |  FROM embeddings e JOIN bk USING (vec_id) JOIN pb ON bk.bucket = pb.bucket),
       |ar AS (SELECT query_id, vec_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id) AS pos FROM app),
       |atop AS (SELECT query_id, vec_id, pos FROM ar WHERE pos <= 5),
       |sc AS (SELECT q.query_id, e.vec_id, ${dot("e.embedding", "q.qv")} AS s
       |  FROM embeddings e, q),
       |br AS (SELECT query_id, vec_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id) AS brnk FROM sc),
       |bt AS (SELECT query_id, vec_id, brnk FROM br WHERE brnk <= 5),
       |idcg AS (SELECT CAST(sum(${cents("(6 - p) * ln(2) / ln(p + 1)", "1000000.0")})
       |  AS BIGINT) AS idcg_e6 FROM generate_series(1, 5) AS g(p)),
       |t AS (SELECT atop.query_id,
       |  ${cents("coalesce(6 - bt.brnk, 0) * ln(2) / ln(atop.pos + 1)", "1000000.0")} AS term_e6,
       |  CASE WHEN bt.brnk IS NOT NULL THEN 1 ELSE 0 END AS hit
       |  FROM atop LEFT JOIN bt ON atop.query_id = bt.query_id AND atop.vec_id = bt.vec_id)
       |SELECT query_id, CAST(sum(hit) AS BIGINT) AS n_hit,
       |  ${r6("sum(term_e6) / (1.0 * idcg_e6)")} AS ndcg
       |FROM t CROSS JOIN idcg GROUP BY query_id, idcg_e6""".stripMargin

  private val qVec0 = "q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)"
  private val scoredAll =
    s"s AS (SELECT vec_id, ${dot("embedding", "qv")} AS sc FROM embeddings, q)"

  val vsKnnTopk: String =
    s"""WITH $qVec0, $scoredAll
       |SELECT vec_id, ${r6("sc")} AS score FROM s ORDER BY sc DESC, vec_id LIMIT 10""".stripMargin

  /** Bounded eval-query sample (r15, r14 verdict #1) — mirrors
    * KnnSearch.evalQueries exactly: from the every-100th candidate
    * set, the 64 smallest md5(vec_id) values with an id tiebreak.
    * Spark's long→string cast and DuckDB's BIGINT→VARCHAR both print
    * plain decimal, and hex md5 ordering is plain ASCII in both
    * engines, so the sampled sets are identical. Used by the five
    * recall/ndcg EVAL harnesses only; serving surfaces (vs_ivf_batch,
    * vs_knn_join, …) keep the full set.
    */
  private def evalSampleBody: String =
    "SELECT vec_id AS query_id, embedding AS qv FROM embeddings " +
      "WHERE vec_id % 100 = 0 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 64"

  private val qSet =
    "q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0)"
  private val scoredSet =
    s"s AS (SELECT query_id, e.vec_id, ${dot("e.embedding", "qv")} AS sc FROM embeddings e, q)"

  val vsKnnJoin: String =
    s"""WITH $qSet, $scoredSet,
       |r AS (SELECT query_id, vec_id, sc,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sc DESC, vec_id) AS BIGINT) AS rnk FROM s)
       |SELECT query_id, vec_id, rnk, ${r6("sc")} AS score FROM r WHERE rnk <= 5""".stripMargin

  val vsRangeSearch: String =
    s"""WITH $qSet, $scoredSet
       |SELECT query_id, vec_id, ${r6("sc")} AS score FROM s WHERE sc >= 0.25""".stripMargin

  private val logitExpr = "8.0 * sc - 1.0 + n_chars / 1000.0"
  private val labelExpr =
    "CASE WHEN logit >= 2.0 THEN 'green' WHEN logit >= 0.5 THEN 'yellow' ELSE 'red' END"

  val vsRerank: String =
    s"""WITH $qVec0, $scoredAll,
       |top AS (SELECT vec_id, sc FROM s ORDER BY sc DESC, vec_id LIMIT 20),
       |j AS (SELECT d.doc_id, t.sc, $logitExpr AS logit
       |  FROM top t JOIN documents d ON d.doc_id = t.vec_id)
       |SELECT doc_id, ${r6("sc")} AS retrieve_score, ${r6("logit")} AS logit,
       |  ${r6("1.0 / (1.0 + exp(-logit))")} AS prob,
       |  $labelExpr AS label,
       |  CAST(row_number() OVER (ORDER BY logit DESC, doc_id) AS BIGINT) AS rerank_rank
       |FROM j""".stripMargin

  // vs_search_many (r13, r12 verdict #4): the batch serving facade,
  // re-derived end to end — including the hashing ENCODER
  // (SearchApi.embedText): per token, bucket = first 4 md5 nibbles mod
  // 64 and sign = parity of nibble 5; per dimension the signed hit sum
  // (±1 integers — exact in double under any summation order), then
  // L2-normalize and cast each component to REAL exactly as Spark casts
  // to float. The dot, top-k, rerank logit/prob/label and per-query
  // rank mirror the vs_rerank chain with PARTITION BY query_id. The
  // Spark side serves from the IVF layout at FULL coverage, where
  // indexed retrieval provably equals this brute top-k.
  /** The vs_search_many hashing-encoder + brute-score CTE chain
    * (qt → qv → s), shared with the hybrid batch facade's oracle.
    */
  private val searchManyEncoderCtes: String = {
    def nib(i: Int) = s"(instr('0123456789abcdef', substring(m, $i, 1)) - 1)"
    val qvalues = graft.operators.SearchApi.GradedQuerySet
      .map { case (i, t) => s"(CAST($i AS BIGINT), '${t.replace("'", "''")}')" }
      .mkString(", ")
    s"""qt(query_id, query_text) AS (SELECT * FROM (VALUES $qvalues) t(query_id, query_text)),
       |qw AS (SELECT query_id, md5(w) AS m FROM (SELECT query_id,
       |    unnest(string_split_regex(trim(query_text), '\\s+')) AS w FROM qt)
       |  WHERE w <> ''),
       |tv AS (SELECT query_id,
       |  (4096 * ${nib(1)} + 256 * ${nib(2)} + 16 * ${nib(3)} + ${nib(4)}) % 64 AS b,
       |  CASE WHEN ${nib(5)} % 2 = 0 THEN (1.0)::DOUBLE ELSE (-1.0)::DOUBLE END AS v
       |  FROM qw),
       |dims AS (SELECT unnest(generate_series(0, 63)) AS pos),
       |rawv AS (SELECT q.query_id, d.pos, coalesce(sum(t.v), (0.0)::DOUBLE) AS r
       |  FROM qt q CROSS JOIN dims d
       |  LEFT JOIN tv t ON t.query_id = q.query_id AND t.b = d.pos
       |  GROUP BY 1, 2),
       |nr AS (SELECT query_id, sqrt(sum(r * r)) AS n FROM rawv GROUP BY 1),
       |qv AS (SELECT r.query_id, list(CAST(r.r / nr.n AS REAL) ORDER BY r.pos) AS qvec
       |  FROM rawv r JOIN nr USING (query_id) GROUP BY r.query_id),
       |s AS (SELECT q.query_id, e.vec_id, ${dot("e.embedding", "q.qvec")} AS sc
       |  FROM embeddings e, qv q)""".stripMargin
  }

  val vsSearchMany: String =
    s"""WITH $searchManyEncoderCtes,
       |rk AS (SELECT query_id, vec_id, sc,
       |  row_number() OVER (PARTITION BY query_id ORDER BY sc DESC, vec_id) AS rnk FROM s),
       |top AS (SELECT query_id, vec_id, sc FROM rk WHERE rnk <= 20),
       |j AS (SELECT t.query_id, d.doc_id, t.sc, $logitExpr AS logit
       |  FROM top t JOIN documents d ON d.doc_id = t.vec_id)
       |SELECT query_id, doc_id, ${r6("sc")} AS retrieve_score, ${r6("logit")} AS logit,
       |  ${r6("1.0 / (1.0 + exp(-logit))")} AS prob,
       |  $labelExpr AS label,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY logit DESC, doc_id)
       |    AS BIGINT) AS rerank_rank
       |FROM j""".stripMargin

  // vs_search_many_hybrid (r14, r13 verdict #2): the hybrid batch
  // facade, re-derived end to end — the vs_search_many encoder chain
  // feeds per-query brute vector ranks (the facade serves at full IVF
  // coverage where indexed == brute); the lexical arm generalizes the
  // vs_bm25 Okapi contribution to per-query terms over a full posting
  // derivation with per-term df and the index's corpus stats; fusion
  // is the vs_hybrid_idx per-query RRF with the same 1e9
  // integerization and (rrf desc, doc_id) rank. r15 (verdict #5): the
  // widened query set includes >8-distinct-term texts, so the facade's
  // term cap — FIRST 8 distinct terms in occurrence order,
  // slice(array_distinct(split(...)), 1, 8) — is now mirrored exactly:
  // zipped unnest gives each token its position, min(ord) per term is
  // the first occurrence, and the rank-8 filter reproduces the slice.
  val vsSearchManyHybrid: String =
    s"""WITH $searchManyEncoderCtes,
       |vr AS (SELECT query_id, vec_id AS doc_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sc DESC, vec_id)
       |    AS BIGINT) AS rank_vec FROM s),
       |vt AS (SELECT query_id, doc_id, rank_vec FROM vr WHERE rank_vec <= 20),
       |dt AS (SELECT doc_id, $toks AS toks FROM documents),
       |dlen AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM dt),
       |post AS (SELECT doc_id, w AS term, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(toks) AS w FROM dt) GROUP BY 1, 2),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(dl) AS BIGINT) AS sum_dl FROM dlen),
       |qtok AS (SELECT query_id, unnest(lst) AS w,
       |  unnest(generate_series(1, len(lst))) AS ord
       |  FROM (SELECT query_id, string_split_regex(trim(query_text), '\\s+') AS lst
       |        FROM qt)),
       |qdist AS (SELECT query_id, w AS term, min(ord) AS mo
       |  FROM qtok WHERE w <> '' GROUP BY 1, 2),
       |qterm AS (SELECT query_id, term FROM (SELECT query_id, term,
       |    row_number() OVER (PARTITION BY query_id ORDER BY mo) AS rn FROM qdist)
       |  WHERE rn <= 8),
       |tdf AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post
       |  WHERE term IN (SELECT term FROM qterm) GROUP BY 1),
       |contrib AS (SELECT q.query_id, p.doc_id,
       |  ${cents(
            "ln((1.0)::DOUBLE + (n_docs - df + (0.5)::DOUBLE) / (df + (0.5)::DOUBLE))" +
              " * (tf * (2.2)::DOUBLE)" +
              " / (tf + (1.2)::DOUBLE * ((1.0)::DOUBLE - (0.75)::DOUBLE + (0.75)::DOUBLE * dl * n_docs / sum_dl))",
            "1000000.0")} AS c_e6
       |  FROM post p JOIN qterm q USING (term) JOIN tdf USING (term)
       |  JOIN dlen ON dlen.doc_id = p.doc_id CROSS JOIN st),
       |lsc AS (SELECT query_id, doc_id, CAST(sum(c_e6) AS BIGINT) AS score_e6
       |  FROM contrib GROUP BY 1, 2),
       |lrk AS (SELECT query_id, doc_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY score_e6 DESC, doc_id)
       |    AS BIGINT) AS rank_lex FROM lsc WHERE score_e6 > 0),
       |lt AS (SELECT query_id, doc_id, rank_lex FROM lrk WHERE rank_lex <= 20),
       |f AS (SELECT coalesce(vt.query_id, lt.query_id) AS query_id,
       |  coalesce(vt.doc_id, lt.doc_id) AS doc_id, rank_vec, rank_lex
       |  FROM vt FULL OUTER JOIN lt ON vt.query_id = lt.query_id AND vt.doc_id = lt.doc_id),
       |rr AS (SELECT query_id, doc_id, rank_vec, rank_lex,
       |  ${cents("coalesce((1.0)::DOUBLE / (60 + rank_vec), (0.0)::DOUBLE) + " +
              "coalesce((1.0)::DOUBLE / (60 + rank_lex), (0.0)::DOUBLE)", "1000000000.0")} AS rrf_e9
       |  FROM f),
       |fr AS (SELECT query_id, doc_id, rank_vec, rank_lex, rrf_e9,
       |  row_number() OVER (PARTITION BY query_id ORDER BY rrf_e9 DESC, doc_id) AS rk
       |  FROM rr)
       |SELECT query_id, doc_id, rank_vec, rank_lex,
       |  rrf_e9 / (1000000000.0)::DOUBLE AS rrf
       |FROM fr WHERE rk <= 10""".stripMargin

  val vsFilteredSearch: String =
    s"""WITH $qVec0, $scoredAll,
       |top AS (SELECT vec_id, sc FROM s ORDER BY sc DESC, vec_id LIMIT 50),
       |j AS (SELECT d.doc_id, d.lang, d.n_chars, $logitExpr AS logit
       |  FROM top t JOIN documents d ON d.doc_id = t.vec_id)
       |SELECT doc_id, lang, n_chars, ${r6("logit")} AS logit, $labelExpr AS label
       |FROM j WHERE lang = 'en' AND n_chars BETWEEN 100 AND 400 AND logit >= 0.5
       |ORDER BY logit DESC, doc_id LIMIT 10""".stripMargin

  val vsFilteredDate: String =
    s"""WITH $qVec0, $scoredAll,
       |top AS (SELECT vec_id, sc FROM s ORDER BY sc DESC, vec_id LIMIT 50),
       |j AS (SELECT d.doc_id,
       |    DATE '2024-01-01' + CAST(d.doc_id % 365 AS INTEGER) AS dd,
       |    d.n_chars, $logitExpr AS logit
       |  FROM top t JOIN documents d ON d.doc_id = t.vec_id)
       |SELECT doc_id, strftime(dd, '%Y-%m-%d') AS doc_date, ${r6("logit")} AS logit, $labelExpr AS label
       |FROM j WHERE dd BETWEEN DATE '2024-03-01' AND DATE '2024-09-30' AND logit >= 0.5
       |ORDER BY logit DESC, doc_id LIMIT 10""".stripMargin

  // the coarse quantizer mirrors IvfIndex.centroids' r9 schedule:
  // nlist = min(ceil(sqrt(N)), 8192) seeds, picked as the rows with the
  // smallest md5(vec_id) (uniform hash sample, id-layout independent) —
  // md5 of the same decimal string is byte-identical in both engines
  private val ivfCtes =
    s"""cprm AS (SELECT LEAST(CAST(ceil(sqrt(count(*))) AS BIGINT), 8192) AS cnl
       |  FROM embeddings),
       |cent AS (SELECT vec_id AS cluster_id, embedding AS cvec FROM (
       |  SELECT vec_id, embedding,
       |    row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS crn
       |  FROM embeddings), cprm
       |  WHERE crn <= cnl),
       |ad AS (SELECT e.vec_id, c.cluster_id, ${dist2("e.embedding", "c.cvec")} AS d2
       |  FROM embeddings e CROSS JOIN cent c),
       |asg AS (SELECT vec_id, cluster_id, d2 FROM (
       |  SELECT vec_id, cluster_id, d2,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster_id) AS rn FROM ad)
       |  WHERE rn = 1)""".stripMargin

  val vsCentroids: String =
    s"""WITH $ivfCtes
       |SELECT cluster_id, count(*) AS n,
       |  ${r6(s"sum(${cents("d2", "1000000000.0")}) / (1000000000.0 * count(*))")} AS avg_d2
       |FROM asg GROUP BY 1""".stripMargin

  val vsIvfAnn: String =
    s"""WITH $ivfCtes,
       |$qVec0,
       |probe AS (SELECT cluster_id FROM (
       |  SELECT cluster_id, ${dist2("cvec", "qv")} AS cd2 FROM cent, q)
       |  ORDER BY cd2, cluster_id LIMIT 3),
       |cand AS (SELECT e.vec_id, e.embedding, a.cluster_id FROM embeddings e
       |  JOIN asg a USING(vec_id)
       |  WHERE a.cluster_id IN (SELECT cluster_id FROM probe)),
       |sc AS (SELECT cluster_id, vec_id, ${dot("embedding", "qv")} AS s FROM cand, q)
       |SELECT cluster_id, vec_id, ${r6("s")} AS score FROM sc ORDER BY s DESC, vec_id LIMIT 10""".stripMargin

  /** One integerized Lloyd step over the seed assignment, re-assign,
    * per-cluster stats — mirrors IvfIndex.kmeansStats: per-(cluster,dim)
    * means from per-row integerized sums (order-independent), centroid
    * arrays rebuilt ordered by dimension, same dist2 fold + argmin.
    */
  val vsIvfKmeans: String =
    s"""WITH $ivfCtes,
       |pe AS (SELECT a.cluster_id, i, e.embedding[i]::DOUBLE AS v
       |  FROM asg a JOIN embeddings e USING(vec_id)
       |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) dims),
       |mm AS (SELECT cluster_id, i,
       |  CAST(sum(CAST(floor(v * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS s2,
       |  count(*) AS n FROM pe GROUP BY 1, 2),
       |nc AS (SELECT cluster_id, list(s2 / (1000000000.0 * n) ORDER BY i) AS cvec FROM mm GROUP BY 1),
       |ad2 AS (SELECT e.vec_id, c.cluster_id, ${dist2("e.embedding", "c.cvec")} AS d2
       |  FROM embeddings e CROSS JOIN nc c),
       |asg2 AS (SELECT vec_id, cluster_id, d2 FROM (
       |  SELECT vec_id, cluster_id, d2,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster_id) AS rn FROM ad2)
       |  WHERE rn = 1)
       |SELECT cluster_id, count(*) AS n,
       |  ${r6(s"sum(${cents("d2", "1000000000.0")}) / (1000000000.0 * count(*))")} AS avg_d2
       |FROM asg2 GROUP BY 1""".stripMargin

  val vsPq: String =
    s"""WITH subs AS (SELECT unnest(generate_series(0, 3)) AS s),
       |cb AS (SELECT s, CAST(vec_id // 17 AS BIGINT) AS code,
       |  list_slice(embedding, s * 16 + 1, s * 16 + 16) AS cvec
       |  FROM embeddings, subs WHERE vec_id % 17 = 0 AND vec_id < 272),
       |sv AS (SELECT vec_id, s, list_slice(embedding, s * 16 + 1, s * 16 + 16) AS subvec
       |  FROM embeddings, subs),
       |dists AS (SELECT sv.vec_id, sv.s, cb.code, ${dist2("sv.subvec", "cb.cvec")} AS d2
       |  FROM sv JOIN cb ON cb.s = sv.s),
       |asgn AS (SELECT vec_id, s, code FROM (
       |  SELECT vec_id, s, code, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rn
       |  FROM dists) WHERE rn = 1),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |lut AS (SELECT s, code, ${dot("list_slice(qv, s * 16 + 1, s * 16 + 16)", "cvec")} AS part FROM cb, q),
       |ap AS (SELECT a.vec_id,
       |  CAST(sum(CAST(floor(part * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS e9
       |  FROM asgn a JOIN lut USING(s, code) GROUP BY 1),
       |ex AS (SELECT vec_id, ${dot("embedding", "qv")} AS es FROM embeddings, q)
       |SELECT vec_id, ${r6("e9 / 1000000000.0")} AS approx_score, ${r6("es")} AS exact_score,
       |  ${r6("abs(e9 / 1000000000.0 - es)")} AS abs_err
       |FROM ap JOIN ex USING(vec_id)""".stripMargin

  val vsPqRerank: String =
    s"""WITH subs AS (SELECT unnest(generate_series(0, 3)) AS s),
       |cb AS (SELECT s, CAST(vec_id // 17 AS BIGINT) AS code,
       |  list_slice(embedding, s * 16 + 1, s * 16 + 16) AS cvec
       |  FROM embeddings, subs WHERE vec_id % 17 = 0 AND vec_id < 272),
       |sv AS (SELECT vec_id, s, list_slice(embedding, s * 16 + 1, s * 16 + 16) AS subvec
       |  FROM embeddings, subs),
       |dists AS (SELECT sv.vec_id, sv.s, cb.code, ${dist2("sv.subvec", "cb.cvec")} AS d2
       |  FROM sv JOIN cb ON cb.s = sv.s),
       |asgn AS (SELECT vec_id, s, code FROM (
       |  SELECT vec_id, s, code, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rn
       |  FROM dists) WHERE rn = 1),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |lut AS (SELECT s, code, ${dot("list_slice(qv, s * 16 + 1, s * 16 + 16)", "cvec")} AS part FROM cb, q),
       |ap AS (SELECT a.vec_id,
       |  CAST(sum(CAST(floor(part * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS e9
       |  FROM asgn a JOIN lut USING(s, code) GROUP BY 1),
       |cand AS (SELECT vec_id, e9 FROM ap ORDER BY e9 DESC, vec_id LIMIT 50),
       |re AS (SELECT c.vec_id, c.e9, ${dot("e.embedding", "qv")} AS es
       |  FROM cand c JOIN embeddings e USING(vec_id), q)
       |SELECT vec_id, ${r6("es")} AS exact_score, ${r6("e9 / 1000000000.0")} AS approx_score
       |FROM re ORDER BY es DESC, vec_id LIMIT 10""".stripMargin

  // ---- C. dedup --------------------------------------------------------

  val dedupExact: String =
    s"""$chunkCte
       |SELECT chunk_hash, count(*) AS n_copies,
       |  CAST(min(doc_id * 1000000000 + chunk_idx) AS BIGINT) AS keeper
       |FROM ch GROUP BY 1 HAVING count(*) > 1""".stripMargin

  private val shingleCte =
    s"""t AS (SELECT doc_id, $toks AS tk FROM documents),
       |sh AS (SELECT doc_id, unnest(list_distinct(
       |  CASE WHEN len(tk) >= 3
       |    THEN list_transform(generate_series(1, len(tk) - 2),
       |      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])
       |    ELSE CAST([] AS VARCHAR[]) END)) AS shingle FROM t)""".stripMargin

  private val pivotCols = (0 until 16).map(j =>
    s"min(CASE WHEN j = $j THEN m END) AS m$j").mkString(", ")
  private val bandArms = (0 until 8).map(b =>
    if (b < 7) s"WHEN $b THEN md5(m${2 * b} || m${2 * b + 1})"
    else s"ELSE md5(m${2 * b} || m${2 * b + 1})").mkString(" ")

  private val bandCtes =
    s"""$shingleCte,
       |mh AS (SELECT doc_id, j, min(md5(CAST(j AS VARCHAR) || ':' || shingle)) AS m
       |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j) pj GROUP BY 1, 2),
       |piv AS (SELECT doc_id, $pivotCols FROM mh GROUP BY 1),
       |bands AS (SELECT doc_id, band, CASE band $bandArms END AS sig
       |  FROM piv CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS band) pb),
       |cand AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_bands
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  val dedupMinhash: String =
    s"""WITH $bandCtes
       |SELECT doc_a, doc_b, n_bands FROM cand""".stripMargin

  val dedupNgram: String =
    s"""WITH $bandCtes,
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.doc_a
       |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2)
       |SELECT c.doc_a, c.doc_b,
       |  CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
       |  ${r6("coalesce(i.n_inter, 0) / (1.0 * (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0)))")} AS jaccard
       |FROM cand c LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |JOIN sizes za ON za.doc_id = c.doc_a
       |JOIN sizes zb ON zb.doc_id = c.doc_b""".stripMargin

  // dedup_incremental: the Spark side serves candidates from the
  // PERSISTED band index of the known slice (doc_id % 3 != 2) and
  // verifies only pairs touching the incoming slice; the oracle runs
  // the batch band chain over the FULL corpus and keeps exactly those
  // pairs, with the same 60-bit md5-prefix hashed intersection the
  // containment verify uses — so the incremental path must reproduce
  // the batch semantics, not approximate them.
  val dedupIncremental: String =
    s"""WITH $bandCtes,
       |candn AS (SELECT doc_a, doc_b, n_bands FROM cand
       |  WHERE doc_a % 3 = 2 OR doc_b % 3 = 2),
       |shh AS (SELECT DISTINCT doc_id,
       |  CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) AS h FROM sh),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM shh GROUP BY 1),
       |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter FROM candn c
       |  JOIN shh sa ON sa.doc_id = c.doc_a
       |  JOIN shh sb ON sb.doc_id = c.doc_b AND sb.h = sa.h
       |  GROUP BY 1, 2)
       |SELECT c.doc_a, c.doc_b, c.n_bands,
       |  CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
       |  ${r6("coalesce(i.n_inter, 0) / (1.0 * (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0)))")} AS jaccard
       |FROM candn c LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |JOIN sizes za ON za.doc_id = c.doc_a
       |JOIN sizes zb ON zb.doc_id = c.doc_b""".stripMargin

  // dedup_drop_incremental: the Spark side serves the drop list from
  // the incrementally-maintained DedupGroups table (known slice seeded
  // offline, incoming slice folded per ingest); the oracle is the
  // BATCH group rule on the grown corpus — connected components over
  // ALL verified pairs at the drop threshold (hashed-shingle verify,
  // the dedup_incremental kernel), dropping every non-min member with
  // the group min as keeper. Incremental ≡ batch is the DedupGroups
  // fold invariant, here hash-enforced per round.
  val dedupDropIncremental: String =
    s"""WITH RECURSIVE $bandCtes,
       |shh AS (SELECT DISTINCT doc_id,
       |  CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) AS h FROM sh),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM shh GROUP BY 1),
       |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter FROM cand c
       |  JOIN shh sa ON sa.doc_id = c.doc_a
       |  JOIN shh sb ON sb.doc_id = c.doc_b AND sb.h = sa.h
       |  GROUP BY 1, 2),
       |jac AS (SELECT c.doc_a, c.doc_b,
       |  ${r6("coalesce(i.n_inter, 0) / (1.0 * (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0)))")} AS jaccard
       |FROM cand c LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |JOIN sizes za ON za.doc_id = c.doc_a
       |JOIN sizes zb ON zb.doc_id = c.doc_b),
       |p AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.8),
       |e AS (SELECT doc_a AS a, doc_b AS b FROM p UNION ALL SELECT doc_b, doc_a FROM p),
       |n AS (SELECT DISTINCT a AS doc FROM e),
       |reach(doc, l) AS (
       |  SELECT doc, doc FROM n
       |  UNION
       |  SELECT e.b, reach.l FROM reach JOIN e ON e.a = reach.doc
       |),
       |comp AS (SELECT doc AS doc_id, CAST(min(l) AS BIGINT) AS component FROM reach GROUP BY 1)
       |SELECT doc_id AS drop_doc, component AS kept_doc FROM comp
       |WHERE doc_id <> component""".stripMargin

  val dedupDrop: String =
    s"""WITH $bandCtes,
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.doc_a
       |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2),
       |jac AS (SELECT c.doc_a, c.doc_b,
       |  ${r6("coalesce(i.n_inter, 0) / (1.0 * (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0)))")} AS jaccard
       |FROM cand c LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |JOIN sizes za ON za.doc_id = c.doc_a
       |JOIN sizes zb ON zb.doc_id = c.doc_b)
       |SELECT doc_b AS drop_doc, min(doc_a) AS kept_doc, max(jaccard) AS max_jaccard
       |FROM jac WHERE jaccard >= 0.8 GROUP BY 1""".stripMargin

  /** Connected components via a recursive CTE: reach(doc, l) holds every
    * label reachable from doc over the undirected near-dup edges; the
    * component id is the minimum. Mirrors the Spark label propagation.
    */
  val dedupComponents: String =
    s"""WITH RECURSIVE $bandCtes,
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.doc_a
       |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2),
       |jac AS (SELECT c.doc_a, c.doc_b,
       |  ${r6("coalesce(i.n_inter, 0) / (1.0 * (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0)))")} AS jaccard
       |FROM cand c LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |JOIN sizes za ON za.doc_id = c.doc_a
       |JOIN sizes zb ON zb.doc_id = c.doc_b),
       |p AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.5),
       |e AS (SELECT doc_a AS a, doc_b AS b FROM p UNION ALL SELECT doc_b, doc_a FROM p),
       |n AS (SELECT DISTINCT a AS doc FROM e),
       |reach(doc, l) AS (
       |  SELECT doc, doc FROM n
       |  UNION
       |  SELECT e.b, reach.l FROM reach JOIN e ON e.a = reach.doc
       |),
       |comp AS (SELECT doc AS doc_id, CAST(min(l) AS BIGINT) AS component FROM reach GROUP BY 1)
       |SELECT doc_id, component,
       |  CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS comp_size
       |FROM comp""".stripMargin

  /** Banded candidate generation (Manku-style): the 64-bit signature is
    * split into 4 16-bit blocks; candidates are same-lang pairs sharing
    * at least one block (an equi-join, mirroring Dedup.simhashBlocks),
    * then verified at hamming ≤ 8. Bit 63 is BIGINT's sign bit —
    * DuckDB's `1::BIGINT << 63` raises, so it is special-cased to the
    * Long.MinValue literal (the value Spark's shiftleft produces).
    */
  val dedupSimhash: String =
    s"""WITH tok AS (SELECT doc_id, unnest($toks) AS w FROM documents),
       |bb AS (SELECT unnest(generate_series(0, 63)) AS b),
       |v AS (SELECT doc_id, b,
       |  CASE WHEN CAST(floor((strpos('0123456789abcdef', substr(md5(w), CAST(floor(b / 4) AS INT) + 1, 1)) - 1)
       |      / (CASE b % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)) AS INT) % 2 = 1
       |    THEN 1 ELSE -1 END AS vt
       |  FROM tok CROSS JOIN bb),
       |sb AS (SELECT doc_id, b, sum(vt) AS s FROM v GROUP BY 1, 2),
       |sg AS (SELECT doc_id,
       |  CAST(sum(CASE WHEN s > 0 THEN
       |    (CASE WHEN b = 63 THEN (-9223372036854775807 - 1)::BIGINT
       |     ELSE (1::BIGINT << CAST(b AS INT)) END) ELSE 0 END) AS BIGINT) AS sig
       |  FROM sb GROUP BY 1),
       |m AS (SELECT doc_id, lang, sig FROM sg JOIN documents USING(doc_id)),
       |blk AS (SELECT doc_id, lang, sig, blkb AS blk, (sig >> (16 * blkb)) & 65535 AS bval
       |  FROM m CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS blkb) blks),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    x.lang AS lang, x.sig AS sig_a, y.sig AS sig_b
       |  FROM blk x JOIN blk y
       |    ON x.lang = y.lang AND x.blk = y.blk AND x.bval = y.bval AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b, lang,
       |  CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 8""".stripMargin

  val dedupEmbed: String =
    s"""WITH $ivfCtes,
       |e AS (SELECT a.vec_id, a.embedding, g.cluster_id
       |  FROM embeddings a JOIN asg g USING(vec_id))
       |SELECT x.cluster_id, x.vec_id AS vec_a, y.vec_id AS vec_b,
       |  ${r6(s"${dot("x.embedding", "y.embedding")} / (${nrm("x.embedding")} * ${nrm("y.embedding")})")} AS cos_sim
       |FROM e x JOIN e y ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
       |WHERE ${dot("x.embedding", "y.embedding")} / (${nrm("x.embedding")} * ${nrm("y.embedding")}) >= 0.35""".stripMargin

  // ---- lexical / hybrid search -----------------------------------------

  /** One term's BM25 contribution — the identical textual operator order
    * as LexicalSearch.contribution. Fractional literals are cast to
    * DOUBLE: DuckDB parses bare decimals as DECIMAL, whose exact
    * arithmetic rounds differently from Spark's binary doubles.
    */
  private def bm25Contrib(i: Int) =
    s"ln((1.0)::DOUBLE + (n_docs - df_$i + (0.5)::DOUBLE) / (df_$i + (0.5)::DOUBLE))" +
      s" * (tf_$i * (2.2)::DOUBLE)" +
      s" / (tf_$i + (1.2)::DOUBLE * ((1.0)::DOUBLE - (0.75)::DOUBLE + (0.75)::DOUBLE * dl * n_docs / sum_dl))"

  private val bm25Ctes =
    s"""t AS (SELECT doc_id, $toks AS toks FROM documents),
       |d AS (SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS dl,
       |  CAST(len(list_filter(toks, x -> x = 'vector')) AS BIGINT) AS tf_0,
       |  CAST(len(list_filter(toks, x -> x = 'hash')) AS BIGINT) AS tf_1
       |  FROM t),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl,
       |  CAST(sum(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_0,
       |  CAST(sum(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_1 FROM d),
       |lsc AS (SELECT doc_id, tf_0, tf_1,
       |  ${cents(bm25Contrib(0), "1000000.0")} + ${cents(bm25Contrib(1), "1000000.0")} AS score_e6
       |  FROM d CROSS JOIN st)""".stripMargin

  val vsBm25: String =
    s"""WITH $bm25Ctes
       |SELECT doc_id, tf_0 AS tf_vector, tf_1 AS tf_hash,
       |  score_e6 / (1000000.0)::DOUBLE AS score
       |FROM lsc WHERE score_e6 > 0 ORDER BY score_e6 DESC, doc_id LIMIT 10""".stripMargin

  val vsHybridRrf: String =
    s"""WITH $qVec0, $scoredAll, $bm25Ctes,
       |vr AS (SELECT vec_id AS doc_id,
       |  CAST(row_number() OVER (ORDER BY sc DESC, vec_id) AS BIGINT) AS rank_vec
       |  FROM (SELECT vec_id, sc FROM s ORDER BY sc DESC, vec_id LIMIT 20)),
       |lr AS (SELECT doc_id,
       |  CAST(row_number() OVER (ORDER BY score_e6 DESC, doc_id) AS BIGINT) AS rank_lex
       |  FROM (SELECT doc_id, score_e6 FROM lsc WHERE score_e6 > 0
       |        ORDER BY score_e6 DESC, doc_id LIMIT 20)),
       |f AS (SELECT coalesce(vr.doc_id, lr.doc_id) AS doc_id, rank_vec, rank_lex
       |  FROM vr FULL OUTER JOIN lr ON vr.doc_id = lr.doc_id),
       |rr AS (SELECT doc_id, rank_vec, rank_lex,
       |  ${cents("coalesce((1.0)::DOUBLE / (60 + rank_vec), (0.0)::DOUBLE) + coalesce((1.0)::DOUBLE / (60 + rank_lex), (0.0)::DOUBLE)", "1000000000.0")} AS rrf_e9
       |  FROM f)
       |SELECT doc_id, rank_vec, rank_lex, rrf_e9 / (1000000000.0)::DOUBLE AS rrf
       |FROM rr ORDER BY rrf_e9 DESC, doc_id LIMIT 10""".stripMargin

  // ---- training-set assembly -------------------------------------------

  val textPii: String = {
    import graft.operators.TextAnalysis.{EmailRe, Ipv4Re, PhoneRe}
    s"""WITH raw AS (SELECT doc_id,
       |  text || ' contact user' || CAST(doc_id AS VARCHAR) ||
       |  '@mail.example.com call 555-0100-' ||
       |  lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || ' from 10.' ||
       |  CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 250 AS VARCHAR) ||
       |  ' end' AS raw
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(raw, '$EmailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(raw, '$Ipv4Re')) AS BIGINT) AS n_ips,
       |  CAST(len(regexp_extract_all(raw, '$PhoneRe')) AS BIGINT) AS n_phones,
       |  md5(regexp_replace(regexp_replace(regexp_replace(raw,
       |    '$EmailRe', '<EMAIL>', 'g'), '$Ipv4Re', '<IP>', 'g'),
       |    '$PhoneRe', '<PHONE>', 'g')) AS scrub_hash
       |FROM raw""".stripMargin
  }

  val qPackSequences: String =
    s"""WITH d AS (SELECT doc_id, source, CAST(len($toks) AS BIGINT) AS n_tok FROM documents),
       |c AS (SELECT doc_id, source, n_tok,
       |  coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM d)
       |SELECT source, CAST(floor(cum_before / (2048.0)::DOUBLE) AS BIGINT) AS shard,
       |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM c GROUP BY 1, 2""".stripMargin

  // q_pack_bpe (r13, r12 verdict #3): the cumulative-sum packer joined
  // onto the recursive-CTE BPE fold — shards budget by the committed
  // tokenizer artifact's counts, over the identifier-shaped
  // customer-name corpus where the artifact has subword structure to
  // find (the documents Zipf head fully merges, so whitespace ≡ BPE
  // there; the text_bpe_ids precedent and slice).
  val qPackBpe: String =
    s"""WITH RECURSIVE
       |cs AS (SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_custkey % 11 = 0),
       |w1 AS (SELECT c_custkey, w
       |  FROM (SELECT c_custkey,
       |    unnest(string_split_regex(trim(c_name), '\\s+')) AS w FROM cs) WHERE w <> ''),
       |$bpeFoldCtes,
       |agg AS (SELECT c_custkey, CAST(sum(n_bpe_w) AS BIGINT) AS n_tok
       |  FROM w1 JOIN fin USING (w) GROUP BY 1),
       |d AS (SELECT c.c_custkey, c.c_mktsegment, coalesce(a.n_tok, 0) AS n_tok
       |  FROM cs c LEFT JOIN agg a USING (c_custkey)),
       |cum AS (SELECT c_custkey, c_mktsegment, n_tok,
       |  coalesce(sum(n_tok) OVER (PARTITION BY c_mktsegment ORDER BY c_custkey
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM d)
       |SELECT c_mktsegment, CAST(floor(cum_before / (8.0)::DOUBLE) AS BIGINT) AS shard,
       |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  min(c_custkey) AS first_doc, max(c_custkey) AS last_doc
       |FROM cum GROUP BY 1, 2""".stripMargin

  val qMixWeighted: String =
    s"""WITH k AS (SELECT doc_id, source,
       |  (CAST(substr(source, 4) AS INT) % 4) AS widx,
       |  substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
       |  FROM documents),
       |f AS (SELECT doc_id, source, (widx + 1) * (0.25)::DOUBLE AS weight,
       |  CASE WHEN h < (CASE widx WHEN 0 THEN '40000000' WHEN 1 THEN '80000000'
       |    WHEN 2 THEN 'c0000000' ELSE 'zzzzzzzz' END) THEN 1 ELSE 0 END AS kept
       |  FROM k),
       |g AS (SELECT source, weight, count(*) AS n_total,
       |  CAST(sum(kept) AS BIGINT) AS n_kept FROM f GROUP BY 1, 2)
       |SELECT source, weight, n_total, n_kept,
       |  ${r6("n_kept / ((1.0)::DOUBLE * n_total)")} AS ratio FROM g""".stripMargin

  val docChunkCdc: String =
    s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
       |e AS (SELECT doc_id, i, tk[i] AS tok
       |  FROM t, unnest(generate_series(1, len(tk))) AS u(i)),
       |b AS (SELECT doc_id, i, tok,
       |  CASE WHEN lag(tok) OVER w IS NOT NULL AND
       |    instr('0123456789abcdef', substr(md5(lag(tok) OVER w || ' ' || tok), 1, 1)) <= 2
       |  THEN 1 ELSE 0 END AS bound
       |  FROM e WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
       |c AS (SELECT doc_id, i, tok,
       |  CAST(sum(bound) OVER (PARTITION BY doc_id ORDER BY i
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS chunk_idx
       |  FROM b)
       |SELECT doc_id, chunk_idx, count(*) AS n_words,
       |  md5(string_agg(tok, ' ' ORDER BY i)) AS chunk_hash
       |FROM c GROUP BY 1, 2""".stripMargin

  /** The composed corpus filter: quality ≥ 0.4 (same r6'd sigmoid as
    * text_quality, so the threshold compare sees identical doubles),
    * langid agreement (same argmax as text_langid), and absence from
    * the near-dup drop list (the full dedup_drop statement nested as a
    * subquery — DuckDB allows WITH inside FROM).
    */
  val pipelineFilter: String =
    s"""WITH pt AS (SELECT doc_id, text, source, lang, $toks AS tk FROM documents),
       |pq AS (SELECT doc_id,
       |  CAST(len(tk) AS BIGINT) AS n_toks,
       |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
       |  CAST(len(list_filter(tk, w -> w IN ($stopList))) AS BIGINT) AS n_stop,
       |  CAST(length(text) AS BIGINT) AS n_chars_t
       |FROM pt),
       |pquality AS (SELECT doc_id, n_toks,
       |  ${r6("1.0 / (1.0 + exp(-(0.02 * n_toks + 4.0 * (n_stop / (1.0 * n_toks)) - 8.0 * (n_punct / (1.0 * greatest(n_chars_t, 1))) - 1.0)))")} AS quality
       |FROM pq),
       |pm(cand, word) AS (VALUES $markerValues),
       |plangs AS (SELECT DISTINCT cand FROM pm),
       |pd AS (SELECT doc_id, unnest(tk) AS word FROM pt),
       |ph AS (SELECT doc_id, cand, count(*) AS score FROM pd JOIN pm USING(word) GROUP BY 1, 2),
       |psc AS (SELECT doc_id, lang, cand, coalesce(score, 0) AS score
       |  FROM (SELECT doc_id, lang FROM documents) CROSS JOIN plangs LEFT JOIN ph USING(doc_id, cand)),
       |pbest AS (SELECT doc_id, lang, cand AS pred_lang FROM (
       |  SELECT doc_id, lang, cand,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rn FROM psc)
       |  WHERE rn = 1),
       |pdrops AS (SELECT drop_doc FROM ($dedupDrop)),
       |pk AS (SELECT pt.source, pquality.n_toks,
       |  CASE WHEN pquality.quality >= (0.4)::DOUBLE AND pbest.pred_lang = pbest.lang
       |    AND pdrops.drop_doc IS NULL THEN 1 ELSE 0 END AS kept
       |  FROM pt
       |  JOIN pquality USING(doc_id)
       |  JOIN pbest USING(doc_id)
       |  LEFT JOIN pdrops ON pt.doc_id = pdrops.drop_doc)
       |SELECT source, count(*) AS n_docs, CAST(sum(kept) AS BIGINT) AS n_kept,
       |  CAST(sum(CASE WHEN kept = 1 THEN n_toks ELSE 0 END) AS BIGINT) AS toks_kept,
       |  ${r6("sum(kept) / (1.0 * count(*))")} AS keep_rate
       |FROM pk GROUP BY 1""".stripMargin

  val qWindowRange: String =
    s"""WITH o AS (SELECT o_custkey, o_orderkey,
       |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
       |  ${cents("o_totalprice", "100.0")} AS price_cents
       |FROM orders)
       |SELECT o_custkey, o_orderkey, epoch_s,
       |  CAST(sum(price_cents) OVER (PARTITION BY o_custkey ORDER BY epoch_s
       |    RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS BIGINT) / (100.0)::DOUBLE
       |    AS rolling_7d
       |FROM o""".stripMargin

  val qPivot: String =
    """SELECT source,
      |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
      |  CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS n_de,
      |  CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_fr,
      |  CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS n_es,
      |  CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS n_zh
      |FROM documents GROUP BY 1""".stripMargin

  val qGroupingSets: String =
    s"""SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       |  coalesce(o_orderstatus, 'ALL') AS status,
       |  count(1) AS n,
       |  CAST(sum(${cents("o_totalprice", "100.0")}) AS BIGINT) AS sum_price_cents
       |FROM orders
       |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())""".stripMargin

  val vsIvfBatch: String =
    s"""WITH $ivfCtes,
       |bq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
       |bp AS (SELECT query_id, cluster_id, qv FROM (
       |  SELECT q.query_id, c.cluster_id, q.qv,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY ${dist2("c.cvec", "q.qv")}, c.cluster_id) AS rn
       |  FROM bq q CROSS JOIN cent c) WHERE rn <= 3),
       |bs AS (SELECT p.query_id, e.vec_id, ${dot("e.embedding", "p.qv")} AS s
       |  FROM embeddings e JOIN asg a USING(vec_id) JOIN bp p ON a.cluster_id = p.cluster_id),
       |br AS (SELECT query_id, vec_id, s,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id) AS BIGINT) AS rnk
       |  FROM bs)
       |SELECT query_id, vec_id, rnk, ${r6("s")} AS score FROM br WHERE rnk <= 5""".stripMargin

  val vsIvfRecall: String =
    s"""WITH $ivfCtes,
       |bq AS ($evalSampleBody),
       |bp AS (SELECT query_id, cluster_id, qv FROM (
       |  SELECT q.query_id, c.cluster_id, q.qv,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY ${dist2("c.cvec", "q.qv")}, c.cluster_id) AS rn
       |  FROM bq q CROSS JOIN cent c) WHERE rn <= 3),
       |iv AS (SELECT query_id, vec_id FROM (
       |  SELECT p.query_id, e.vec_id,
       |    row_number() OVER (PARTITION BY p.query_id
       |      ORDER BY ${dot("e.embedding", "p.qv")} DESC, e.vec_id) AS rnk
       |  FROM embeddings e JOIN asg a USING(vec_id) JOIN bp p ON a.cluster_id = p.cluster_id)
       |  WHERE rnk <= 5),
       |bf AS (SELECT query_id, vec_id FROM (
       |  SELECT q.query_id, e.vec_id,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY ${dot("e.embedding", "q.qv")} DESC, e.vec_id) AS rnk
       |  FROM embeddings e CROSS JOIN bq q) WHERE rnk <= 5)
       |SELECT bf.query_id,
       |  CAST(sum(CASE WHEN iv.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  ${r6("sum(CASE WHEN iv.vec_id IS NOT NULL THEN 1 ELSE 0 END) / 5.0")} AS recall
       |FROM bf LEFT JOIN iv ON bf.query_id = iv.query_id AND bf.vec_id = iv.vec_id
       |GROUP BY 1""".stripMargin

  /** nDCG@10 of the IVF batch search (IvfIndex.ndcgReport): graded
    * relevance from the brute top-10 (rel = 11 − brute rank), DCG terms
    * integerized at 1e6 before the per-query sum, ideal DCG folded from
    * the same integerized terms in-engine.
    */
  val vsNdcg: String =
    s"""WITH $ivfCtes,
       |bq AS ($evalSampleBody),
       |bp AS (SELECT query_id, cluster_id, qv FROM (
       |  SELECT q.query_id, c.cluster_id, q.qv,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY ${dist2("c.cvec", "q.qv")}, c.cluster_id) AS rn
       |  FROM bq q CROSS JOIN cent c) WHERE rn <= 3),
       |iv AS (SELECT query_id, vec_id, pos FROM (
       |  SELECT p.query_id, e.vec_id,
       |    row_number() OVER (PARTITION BY p.query_id
       |      ORDER BY ${dot("e.embedding", "p.qv")} DESC, e.vec_id) AS pos
       |  FROM embeddings e JOIN asg a USING(vec_id) JOIN bp p ON a.cluster_id = p.cluster_id)
       |  WHERE pos <= 10),
       |bf AS (SELECT query_id, vec_id, brnk FROM (
       |  SELECT q.query_id, e.vec_id,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY ${dot("e.embedding", "q.qv")} DESC, e.vec_id) AS brnk
       |  FROM embeddings e CROSS JOIN bq q) WHERE brnk <= 10),
       |idcg AS (SELECT CAST(sum(${cents("(11 - p) * ln(2) / ln(p + 1)", "1000000.0")})
       |  AS BIGINT) AS idcg_e6 FROM generate_series(1, 10) AS g(p)),
       |t AS (SELECT iv.query_id,
       |  ${cents("coalesce(11 - bf.brnk, 0) * ln(2) / ln(iv.pos + 1)", "1000000.0")} AS term_e6,
       |  CASE WHEN bf.brnk IS NOT NULL THEN 1 ELSE 0 END AS hit
       |  FROM iv LEFT JOIN bf ON iv.query_id = bf.query_id AND iv.vec_id = bf.vec_id)
       |SELECT query_id, CAST(sum(hit) AS BIGINT) AS n_hit,
       |  ${r6("sum(term_e6) / (1.0 * idcg_e6)")} AS ndcg
       |FROM t CROSS JOIN idcg GROUP BY query_id, idcg_e6""".stripMargin

  val dedupReport: String =
    s"""WITH $bandCtes,
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.doc_a
       |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2),
       |jac AS (SELECT c.doc_a, c.doc_b,
       |  ${r6("coalesce(i.n_inter, 0) / (1.0 * (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0)))")} AS jaccard
       |FROM cand c LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |JOIN sizes za ON za.doc_id = c.doc_a
       |JOIN sizes zb ON zb.doc_id = c.doc_b),
       |agg AS (SELECT count(*) AS n_candidate_pairs,
       |  CAST(sum(CASE WHEN jaccard >= (0.5)::DOUBLE THEN 1 ELSE 0 END) AS BIGINT) AS n_verified_pairs,
       |  CAST(sum(CASE WHEN jaccard >= (0.8)::DOUBLE THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_pairs
       |  FROM jac),
       |imp AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_implicated FROM (
       |  SELECT doc_a AS doc_id FROM jac WHERE jaccard >= (0.5)::DOUBLE
       |  UNION ALL SELECT doc_b FROM jac WHERE jaccard >= (0.5)::DOUBLE))
       |SELECT * FROM agg CROSS JOIN imp""".stripMargin

  /** Dedup aggressiveness sweep — mirrors Dedup.thresholdSweep: per
    * drop threshold, verified pairs above it, docs the doc_b drop rule
    * removes, and the character mass removed.
    */
  val dedupSweep: String =
    s"""WITH $bandCtes,
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.doc_a
       |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2),
       |jac AS (SELECT c.doc_a, c.doc_b,
       |  ${r6("coalesce(i.n_inter, 0) / (1.0 * (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0)))")} AS jaccard
       |FROM cand c LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |JOIN sizes za ON za.doc_id = c.doc_a
       |JOIN sizes zb ON zb.doc_id = c.doc_b),
       |th AS (SELECT * FROM (VALUES ((0.5)::DOUBLE), ((0.6)::DOUBLE), ((0.7)::DOUBLE),
       |  ((0.8)::DOUBLE), ((0.9)::DOUBLE)) t(threshold)),
       |hits AS (SELECT t.threshold, j.doc_a, j.doc_b FROM jac j CROSS JOIN th t
       |  WHERE j.jaccard >= t.threshold),
       |pr AS (SELECT threshold, count(*) AS n_pairs FROM hits GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS total_chars FROM documents),
       |dd AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_docs_dropped,
       |    CAST(sum(d.n_chars) AS BIGINT) AS chars_dropped
       |  FROM (SELECT DISTINCT threshold, doc_b FROM hits) h
       |  JOIN documents d ON d.doc_id = h.doc_b GROUP BY 1)
       |SELECT t.threshold, coalesce(pr.n_pairs, 0) AS n_pairs,
       |  coalesce(dd.n_docs_dropped, 0) AS n_docs_dropped,
       |  coalesce(dd.chars_dropped, 0) AS chars_dropped,
       |  ${r6("coalesce(dd.chars_dropped, 0) / (1.0 * tot.total_chars)")} AS frac_chars_dropped
       |FROM th t LEFT JOIN pr ON pr.threshold = t.threshold
       |LEFT JOIN dd ON dd.threshold = t.threshold CROSS JOIN tot""".stripMargin

  val vsQuantizedSearch: String =
    s"""WITH qr AS (SELECT embedding AS qv_raw,
       |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS qs
       |  FROM embeddings WHERE vec_id = 0),
       |qx AS (SELECT qv_raw,
       |    list_transform(qv_raw, x -> ${int8Code("x", "qs")}) AS qq
       |  FROM qr),
       |cv AS (SELECT vec_id, embedding,
       |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS vs
       |  FROM embeddings),
       |cq AS (SELECT vec_id, embedding, vs,
       |    list_transform(embedding, x -> ${int8Code("x", "vs")}) AS qv
       |  FROM cv),
       |sc AS (SELECT cq.vec_id, cq.embedding, qx.qv_raw,
       |    list_reduce(list_transform(generate_series(1, len(qv)), i -> qv[i] * qx.qq[i]), (x, y) -> x + y) AS int_dot,
       |    list_reduce(list_transform(generate_series(1, len(qv)), i -> qv[i] * qx.qq[i]), (x, y) -> x + y) * cq.vs AS approx_key
       |  FROM cq CROSS JOIN qx),
       |cand AS (SELECT vec_id, int_dot, ${dot("embedding", "qv_raw")} AS exact
       |  FROM sc ORDER BY approx_key DESC, vec_id LIMIT 50)
       |SELECT vec_id, int_dot, ${r6("exact")} AS score
       |FROM cand ORDER BY exact DESC, vec_id LIMIT 10""".stripMargin

  val vsIvfPq: String =
    s"""WITH $ivfCtes,
       |subs AS (SELECT unnest(generate_series(0, 3)) AS s),
       |cb AS (SELECT s, CAST(vec_id // 17 AS BIGINT) AS code,
       |  list_slice(embedding, s * 16 + 1, s * 16 + 16) AS cvec2
       |  FROM embeddings, subs WHERE vec_id % 17 = 0 AND vec_id < 272),
       |sv AS (SELECT vec_id, s, list_slice(embedding, s * 16 + 1, s * 16 + 16) AS subvec
       |  FROM embeddings, subs),
       |dists AS (SELECT sv.vec_id, sv.s, cb.code, ${dist2("sv.subvec", "cb.cvec2")} AS d2q
       |  FROM sv JOIN cb ON cb.s = sv.s),
       |asgn AS (SELECT vec_id, s, code FROM (
       |  SELECT vec_id, s, code, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2q, code) AS rn
       |  FROM dists) WHERE rn = 1),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |lut AS (SELECT s, code, ${dot("list_slice(qv, s * 16 + 1, s * 16 + 16)", "cvec2")} AS part FROM cb, q),
       |ap AS (SELECT a.vec_id,
       |  CAST(sum(CAST(floor(part * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS e9
       |  FROM asgn a JOIN lut USING(s, code) GROUP BY 1),
       |probe AS (SELECT cluster_id FROM (
       |  SELECT cluster_id, ${dist2("cvec", "qv")} AS cd2 FROM cent, q)
       |  ORDER BY cd2, cluster_id LIMIT 3),
       |cand AS (SELECT g.cluster_id, p.vec_id, p.e9 FROM ap p JOIN asg g USING(vec_id)
       |  WHERE g.cluster_id IN (SELECT cluster_id FROM probe)
       |  ORDER BY p.e9 DESC, p.vec_id LIMIT 50),
       |re AS (SELECT c.cluster_id, c.vec_id, c.e9, ${dot("e.embedding", "qv")} AS es
       |  FROM cand c JOIN embeddings e USING(vec_id), q)
       |SELECT cluster_id, vec_id, ${r6("e9 / 1000000000.0")} AS approx_score, ${r6("es")} AS score
       |FROM re ORDER BY es DESC, vec_id LIMIT 10""".stripMargin

  /** PQ candidate-generation recall tuning table — mirrors
    * PqIndex.pqRecallReport: recall@10 of the (nprobe, candidates)-
    * pruned quantized search against brute force, per configuration.
    */
  val vsPqRecall: String =
    s"""WITH $ivfCtes,
       |subs AS (SELECT unnest(generate_series(0, 3)) AS s),
       |cb AS (SELECT s, CAST(vec_id // 17 AS BIGINT) AS code,
       |  list_slice(embedding, s * 16 + 1, s * 16 + 16) AS cvec2
       |  FROM embeddings, subs WHERE vec_id % 17 = 0 AND vec_id < 272),
       |sv AS (SELECT vec_id, s, list_slice(embedding, s * 16 + 1, s * 16 + 16) AS subvec
       |  FROM embeddings, subs),
       |dists AS (SELECT sv.vec_id, sv.s, cb.code, ${dist2("sv.subvec", "cb.cvec2")} AS d2q
       |  FROM sv JOIN cb ON cb.s = sv.s),
       |asgn AS (SELECT vec_id, s, code FROM (
       |  SELECT vec_id, s, code, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2q, code) AS rn
       |  FROM dists) WHERE rn = 1),
       |cfg AS (SELECT * FROM (VALUES (1, 50), (2, 50), (3, 50), (3, 20)) t(nprobe, candidates)),
       |bq AS ($evalSampleBody),
       |crank AS (SELECT query_id, cluster_id, crn FROM (
       |  SELECT q.query_id, c.cluster_id,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY ${dist2("c.cvec", "q.qv")}, c.cluster_id) AS crn
       |  FROM bq q CROSS JOIN cent c) WHERE crn <= 3),
       |lut AS (SELECT q.query_id, cb.s, cb.code,
       |  ${cents(dot("list_slice(q.qv, cb.s * 16 + 1, cb.s * 16 + 16)", "cb.cvec2"), "1000000000.0")} AS part_e9
       |  FROM cb, bq q),
       |approx AS (SELECT l.query_id, g.vec_id, k.crn, CAST(sum(part_e9) AS BIGINT) AS approx_e9
       |  FROM asgn g JOIN asg a ON a.vec_id = g.vec_id
       |  JOIN crank k ON k.cluster_id = a.cluster_id
       |  JOIN lut l ON l.s = g.s AND l.code = g.code AND l.query_id = k.query_id
       |  GROUP BY 1, 2, 3),
       |topq AS (SELECT query_id, nprobe, candidates, vec_id FROM (
       |  SELECT ap.query_id, c.nprobe, c.candidates, ap.vec_id,
       |    row_number() OVER (PARTITION BY ap.query_id, c.nprobe, c.candidates
       |      ORDER BY ap.approx_e9 DESC, ap.vec_id) AS arn
       |  FROM approx ap JOIN cfg c ON ap.crn <= c.nprobe) WHERE arn <= candidates),
       |rer AS (SELECT query_id, nprobe, candidates, vec_id FROM (
       |  SELECT t.query_id, t.nprobe, t.candidates, t.vec_id,
       |    row_number() OVER (PARTITION BY t.query_id, t.nprobe, t.candidates
       |      ORDER BY ${dot("e.embedding", "q.qv")} DESC, t.vec_id) AS ern
       |  FROM topq t JOIN embeddings e ON e.vec_id = t.vec_id
       |  JOIN bq q ON q.query_id = t.query_id) WHERE ern <= 10),
       |bf AS (SELECT query_id, vec_id FROM (
       |  SELECT q.query_id, e.vec_id,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY ${dot("e.embedding", "q.qv")} DESC, e.vec_id) AS brn
       |  FROM embeddings e CROSS JOIN bq q) WHERE brn <= 10)
       |SELECT c.nprobe, c.candidates,
       |  CAST(count(DISTINCT bf.query_id) AS BIGINT) AS n_queries,
       |  CAST(sum(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  ${r6("sum(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END) / (count(DISTINCT bf.query_id) * 10.0)")} AS recall
       |FROM bf CROSS JOIN cfg c
       |LEFT JOIN rer r ON r.query_id = bf.query_id AND r.nprobe = c.nprobe
       |  AND r.candidates = c.candidates AND r.vec_id = bf.vec_id
       |GROUP BY 1, 2""".stripMargin

  /** Two unrolled PageRank iterations — the relational mirror of
    * GraphOps.pagerank (damping 0.85, uniform start, integerized
    * per-edge contributions).
    */
  val qPagerank: String = {
    val base = cents("(0.15)::DOUBLE / n", "1000000000.0")
    def contribCte(i: Int, prev: String) =
      s"""c$i AS (SELECT ed.dst, CAST(sum(${cents("(0.85)::DOUBLE * r_e9 / outdeg", "1.0")}) AS BIGINT) AS in_e9
         |  FROM ed JOIN $prev ON ed.src = $prev.node JOIN od ON ed.src = od.src GROUP BY 1),
         |r$i AS (SELECT node, $base + coalesce(in_e9, 0) AS r_e9
         |  FROM nodes CROSS JOIN nt LEFT JOIN c$i ON nodes.node = c$i.dst)""".stripMargin
    s"""WITH e0 AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
       |    's' || CAST(l_suppkey AS VARCHAR) AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |ed AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
       |nodes AS (SELECT DISTINCT src AS node FROM ed),
       |nt AS (SELECT count(*) AS n FROM nodes),
       |od AS (SELECT src, count(*) AS outdeg FROM ed GROUP BY 1),
       |r0 AS (SELECT node, ${cents("(1.0)::DOUBLE / n", "1000000000.0")} AS r_e9
       |  FROM nodes CROSS JOIN nt),
       |${contribCte(1, "r0")},
       |${contribCte(2, "r1")}
       |SELECT node, ${r6("r_e9 / 1000000000.0")} AS pagerank
       |FROM r2 ORDER BY r_e9 DESC, node LIMIT 20""".stripMargin
  }

  /** HITS hubs/authorities (GraphOps.hits): two unrolled rounds on the
    * DIRECTED customer→supplier graph. Scores are Longs; each round's
    * vector is rescaled into [2^29, 2^30) by `v >> (bitlen(max)-30)`
    * with the INTEGER bit length (length(printf('%b',·)) — no float
    * log), mirroring the Spark side's numberOfLeadingZeros shift, so
    * every distributed sum is an order-independent BIGINT sum. Round
    * CTEs are MATERIALIZED (the qKcore lesson: plain CTEs inline and
    * the unrolled expansion re-scans the edge build exponentially).
    */
  val qHits: String = {
    def rescale(v: String, c: String) =
      s"""${v}s AS (SELECT greatest(0, length(printf('%b', max($c))) - 30) AS s FROM ${v}r),
         |$v AS MATERIALIZED (SELECT node, $c >> s AS $c FROM ${v}r, ${v}s)""".stripMargin
    val nm = "CASE WHEN node % 2 = 0 THEN 'c' || CAST(node // 2 AS VARCHAR) " +
      "ELSE 's' || CAST(node // 2 AS VARCHAR) END"
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS src,
       |    CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |h0 AS (SELECT DISTINCT src AS node, CAST(1073741824 AS BIGINT) AS h FROM e),
       |a1r AS MATERIALIZED (SELECT dst AS node, CAST(sum(h) AS BIGINT) AS a
       |  FROM e JOIN h0 ON e.src = h0.node GROUP BY 1),
       |${rescale("a1", "a")},
       |h1r AS MATERIALIZED (SELECT src AS node, CAST(sum(a) AS BIGINT) AS h
       |  FROM e JOIN a1 ON e.dst = a1.node GROUP BY 1),
       |${rescale("h1", "h")},
       |a2r AS MATERIALIZED (SELECT dst AS node, CAST(sum(h) AS BIGINT) AS a
       |  FROM e JOIN h1 ON e.src = h1.node GROUP BY 1),
       |${rescale("a2", "a")},
       |h2r AS MATERIALIZED (SELECT src AS node, CAST(sum(a) AS BIGINT) AS h
       |  FROM e JOIN a2 ON e.dst = a2.node GROUP BY 1),
       |${rescale("h2", "h")},
       |hm AS (SELECT max(h) AS mx FROM h2),
       |am AS (SELECT max(a) AS mx FROM a2),
       |th AS (SELECT 'hub' AS role, $nm AS node, h AS raw FROM h2
       |  ORDER BY raw DESC, node LIMIT 20),
       |ta AS (SELECT 'authority' AS role, $nm AS node, a AS raw FROM a2
       |  ORDER BY raw DESC, node LIMIT 20),
       |u AS (SELECT role, node, raw, mx FROM th, hm
       |  UNION ALL SELECT role, node, raw, mx FROM ta, am)
       |SELECT role, node, ${r6("raw / (1.0 * mx)")} AS score
       |FROM u ORDER BY role, raw DESC, node""".stripMargin
  }

  val vsRocchio: String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |t5 AS (SELECT e.vec_id, e.embedding FROM embeddings e CROSS JOIN q
       |  ORDER BY ${dot("e.embedding", "q.qv")} DESC, e.vec_id LIMIT 5),
       |pe AS (SELECT i AS pos, embedding[i]::DOUBLE AS v FROM t5
       |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) dims),
       |mm AS (SELECT pos,
       |  CAST(sum(CAST(floor(v * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS s,
       |  count(*) AS n FROM pe GROUP BY 1),
       |fb AS (SELECT list(s / (1000000000.0 * n) ORDER BY pos) AS fbv FROM mm),
       |q2 AS (SELECT list_transform(generate_series(1, 64),
       |  i -> qv[i]::DOUBLE + (0.5)::DOUBLE * fbv[i]) AS qv2 FROM q, fb),
       |sc AS (SELECT e.vec_id, ${dot("e.embedding", "q2.qv2")} AS s2
       |  FROM embeddings e CROSS JOIN q2)
       |SELECT vec_id, ${r6("s2")} AS score FROM sc ORDER BY s2 DESC, vec_id LIMIT 10""".stripMargin

  val vsKnnClassify: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
       |  CAST(label AS BIGINT) AS true_label FROM embeddings WHERE vec_id % 100 = 0),
       |nn AS (SELECT query_id, true_label, vec_id, lbl FROM (
       |  SELECT q.query_id, q.true_label, e.vec_id, CAST(e.label AS BIGINT) AS lbl,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY ${dot("e.embedding", "q.qv")} DESC, e.vec_id) AS rnk
       |  FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id) WHERE rnk <= 5),
       |v AS (SELECT query_id, true_label, lbl, count(*) AS n_votes FROM nn GROUP BY 1, 2, 3),
       |p AS (SELECT query_id, true_label, lbl AS pred_label, n_votes,
       |  row_number() OVER (PARTITION BY query_id ORDER BY n_votes DESC, lbl) AS rn FROM v)
       |SELECT query_id, true_label, pred_label, n_votes FROM p WHERE rn = 1""".stripMargin

  val qHistogram: String =
    """SELECT o_orderstatus, CAST(floor(o_totalprice / 30000.0) AS BIGINT) AS bucket,
      |  CAST(floor(o_totalprice / 30000.0) AS BIGINT) * 30000.0 AS lo_edge,
      |  count(*) AS n
      |FROM orders GROUP BY 1, 2, 3""".stripMargin

  val qMinhashEst: String = {
    val agree = (0 until 16)
      .map(j => s"CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $bandCtes,
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.doc_a
       |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2),
       |jac AS (SELECT c.doc_a, c.doc_b,
       |  ${r6("coalesce(i.n_inter, 0) / (1.0 * (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0)))")} AS jaccard
       |FROM cand c LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |JOIN sizes za ON za.doc_id = c.doc_a
       |JOIN sizes zb ON zb.doc_id = c.doc_b),
       |est AS (SELECT j.doc_a, j.doc_b, ($agree) / 16.0 AS est_jaccard, j.jaccard
       |  FROM jac j JOIN piv a ON a.doc_id = j.doc_a JOIN piv b ON b.doc_id = j.doc_b)
       |SELECT doc_a, doc_b, ${r6("est_jaccard")} AS est_jaccard, jaccard,
       |  ${r6("abs(est_jaccard - jaccard)")} AS abs_err
       |FROM est""".stripMargin
  }

  val qRangeJoin: String =
    s"""WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
       |  epoch_us(ts) // 60000000 AS bk FROM events),
       |f AS (SELECT event_id AS id_f, user_id AS user_f, event_type AS type_f,
       |  us AS us_f, bk AS probe FROM e),
       |s AS (SELECT event_id AS id_s, user_id AS user_s, event_type AS type_s,
       |  us AS us_s, unnest([bk, bk - 1]) AS probe FROM e)
       |SELECT type_f, type_s, count(*) AS n_pairs
       |FROM f JOIN s USING(probe)
       |WHERE (us_f < us_s OR (us_f = us_s AND id_f < id_s))
       |  AND us_s - us_f <= 60000000 AND user_f != user_s
       |GROUP BY 1, 2""".stripMargin

  /** Native ASOF LEFT JOIN — DuckDB's built-in mirror of
    * EventOps.asofJoin's union + carry-forward shape. Clicks sharing
    * (user, us) collapse to max(value) up front; the Spark side gets
    * the same winner from its (us, side, value) sort order.
    */
  val qAsofJoin: String =
    s"""WITH e AS (SELECT event_id, user_id, event_type, value,
       |  epoch_us(ts) AS us FROM events),
       |c AS (SELECT user_id, us AS click_us, max(value) AS cv FROM e
       |  WHERE event_type = 'click' GROUP BY 1, 2),
       |p AS (SELECT event_id, user_id, us, value FROM e
       |  WHERE event_type = 'purchase')
       |SELECT p.event_id, p.user_id, p.us, ${r6("p.value")} AS purchase_val,
       |  c.click_us, ${r6("c.cv")} AS click_val,
       |  p.us - c.click_us AS gap_us
       |FROM p ASOF LEFT JOIN c
       |  ON p.user_id = c.user_id AND p.us >= c.click_us""".stripMargin

  val qGapfill: String =
    s"""WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hb, value
       |  FROM events),
       |h AS (SELECT event_type, hb, count(*) AS cnt,
       |  sum(${cents("value", "100.0")}) AS vc FROM e GROUP BY 1, 2),
       |b AS (SELECT min(hb) AS lo, max(hb) AS hi FROM e),
       |grid AS (SELECT t.event_type, g.hb
       |  FROM (SELECT DISTINCT event_type FROM e) t
       |  CROSS JOIN (SELECT unnest(generate_series((SELECT lo FROM b),
       |    (SELECT hi FROM b))) AS hb) g)
       |SELECT grid.event_type, grid.hb, COALESCE(h.cnt, 0) AS n,
       |  ${r6("COALESCE(h.vc, 0) / 100.0")} AS val_sum
       |FROM grid LEFT JOIN h USING (event_type, hb)""".stripMargin

  /** Char-weighted duplicate-gram fractions (TextAnalysis.repetition):
    * the per-row sort + run-length fold mirrored relationally —
    * explode all n-grams, count per (doc, gram), char-weight the
    * duplicated mass. Docs with < n tokens fall out of a_n and
    * COALESCE to 0, matching the empty-array fold.
    */
  val textRepetition: String = {
    def cte(n: Int): String = {
      val gram = (0 until n).map(o => if (o == 0) "toks[i]" else s"toks[i + $o]")
        .mkString(" || ' ' || ")
      s"""g$n AS (SELECT doc_id, unnest(list_transform(
         |    generate_series(1, len(toks) - ${n - 1}), i -> $gram)) AS gr
         |  FROM t WHERE len(toks) >= $n),
         |c$n AS (SELECT doc_id, gr, count(*) AS c, length(gr) AS l
         |  FROM g$n GROUP BY 1, 2),
         |a$n AS (SELECT doc_id,
         |  sum(CASE WHEN c >= 2 THEN c * l ELSE 0 END) / (1.0 * sum(c * l)) AS f
         |  FROM c$n GROUP BY 1)""".stripMargin
    }
    val f2 = r6("COALESCE(a2.f, 0)")
    val f3 = r6("COALESCE(a3.f, 0)")
    val f4 = r6("COALESCE(a4.f, 0)")
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
       |${cte(2)},
       |${cte(3)},
       |${cte(4)}
       |SELECT d.doc_id, $f2 AS dup2_char_frac, $f3 AS dup3_char_frac,
       |  $f4 AS dup4_char_frac,
       |  CAST(CASE WHEN $f2 <= 0.10 AND $f3 <= 0.08 AND $f4 <= 0.06
       |    THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM documents d
       |LEFT JOIN a2 ON a2.doc_id = d.doc_id
       |LEFT JOIN a3 ON a3.doc_id = d.doc_id
       |LEFT JOIN a4 ON a4.doc_id = d.doc_id""".stripMargin
  }

  val textReadability: String =
    s"""WITH s AS (SELECT doc_id,
       |  CAST(len($toks) AS BIGINT) AS n_words,
       |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
       |    AS n_syllables,
       |  CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
       |    AS n_sentences
       |  FROM documents)
       |SELECT doc_id, n_words, n_syllables, n_sentences,
       |  ${r6("206.835 - 1.015 * (n_words / (1.0 * n_sentences)) - 84.6 * (n_syllables / (1.0 * n_words))")} AS flesch_ease,
       |  ${r6("0.39 * (n_words / (1.0 * n_sentences)) + 11.8 * (n_syllables / (1.0 * n_words)) - 15.59")} AS fk_grade
       |FROM s WHERE n_words > 0""".stripMargin

  val qStratifiedSample: String =
    s"""SELECT doc_id, lang, source,
       |  substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h8
       |FROM documents
       |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
       |  CASE WHEN lang = 'en' THEN '80000000'
       |    WHEN lang IN ('de', 'fr') THEN '4ccccccc'
       |    ELSE '33333333' END""".stripMargin

  /** SCD2 (EventOps.scd2): change points via IS DISTINCT FROM lag,
    * close + version via lead / row_number over the change rows.
    */
  val qScd2: String =
    s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
       |  CAST(json_extract_string(props, '$$.k') AS INT) // 25 AS tier
       |  FROM events),
       |m AS (SELECT *, CASE WHEN lag(tier) OVER w IS DISTINCT FROM tier
       |    THEN 1 ELSE 0 END AS chg
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       |s AS (SELECT user_id, tier, us AS valid_from_us FROM m WHERE chg = 1)
       |SELECT user_id, tier, valid_from_us,
       |  lead(valid_from_us) OVER w2 AS valid_to_us,
       |  CAST(row_number() OVER w2 AS BIGINT) AS version
       |FROM s WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from_us)""".stripMargin

  /** Benford audit (Relational.benford): first digit from the
    * cents-integerized bigint string — float-format- and log10-ulp-safe.
    */
  val qBenford: String =
    s"""WITH d AS (SELECT CAST(substr(CAST(${cents("o_totalprice", "100.0")}
       |    AS VARCHAR), 1, 1) AS BIGINT) AS digit
       |  FROM orders WHERE o_totalprice > 0),
       |c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
       |t AS (SELECT sum(n) AS total FROM c)
       |SELECT c.digit, c.n, ${r6("c.n / (1.0 * t.total)")} AS obs_frac,
       |  ${r6("log10(1.0 + 1.0 / c.digit)")} AS exp_frac,
       |  ${r6("power(c.n / (1.0 * t.total) - log10(1.0 + 1.0 / c.digit), 2) / log10(1.0 + 1.0 / c.digit)")} AS chi2_term
       |FROM c, t ORDER BY digit""".stripMargin

  /** Triangle listing (GraphOps.triangles): id-oriented frequent
    * co-purchase edges closed into triples; each triangle found once.
    */
  val qTriangles: String =
    s"""WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |pairs AS (SELECT x.p AS pa, y.p AS pb, count(*) AS sup
       |  FROM b x JOIN b y ON x.o = y.o AND x.p < y.p
       |  GROUP BY 1, 2 HAVING count(*) >= 2)
       |SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c,
       |  least(e1.sup, e2.sup, e3.sup) AS min_sup
       |FROM pairs e1
       |JOIN pairs e2 ON e2.pa = e1.pb
       |JOIN pairs e3 ON e3.pa = e1.pa AND e3.pb = e2.pb""".stripMargin

  /** Numeric trade-graph edge CTEs shared by the BFS / label-prop
    * oracles — the same custkey·2 / suppkey·2+1 encoding the Spark
    * loops run on (GraphOps.edges), so per-iteration tiebreaks compare
    * the same longs on both sides.
    */
  private val numEdgeCtes =
    """e0 AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |ed AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0)""".stripMargin

  /** Render a numeric node id back to the reference naming. */
  private def nodeCase(c: String) =
    s"CASE WHEN $c % 2 = 0 THEN 'c' || CAST($c // 2 AS VARCHAR) ELSE 's' || CAST($c // 2 AS VARCHAR) END"

  /** BFS min-hop distances (GraphOps.bfsHops): recursive walk from
    * node c1 (=2), bounded at 4 hops; UNION dedups (node, hops) states
    * so the working set stays O(nodes·hops), and min() collapses
    * revisits at deeper hops.
    */
  val qBfsHops: String =
    s"""WITH RECURSIVE $numEdgeCtes,
       |walk(node, hops) AS (
       |  SELECT CAST(2 AS BIGINT) AS node, 0 AS hops
       |  UNION
       |  SELECT ed.dst AS node, w.hops + 1 AS hops
       |  FROM walk w JOIN ed ON ed.src = w.node WHERE w.hops < 4)
       |SELECT ${nodeCase("node")} AS node, min(hops) AS hops
       |FROM walk GROUP BY 1""".stripMargin

  /** Common-neighbor link prediction (GraphOps.commonNeighbors): wedge
    * closure over the support-pruned co-purchase pairs, direct edges
    * removed, neighbor-Jaccard scored.
    */
  val qCommonNeighbors: String =
    s"""WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |pairs AS (SELECT x.p AS pa, y.p AS pb, count(*) AS sup
       |  FROM b x JOIN b y ON x.o = y.o AND x.p < y.p
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |und AS (SELECT pa AS x, pb AS y FROM pairs
       |  UNION ALL SELECT pb AS x, pa AS y FROM pairs),
       |deg AS (SELECT x, count(*) AS deg FROM und GROUP BY 1),
       |wed AS (SELECT wa.x AS a, wc.x AS c, count(*) AS common_cnt
       |  FROM und wa JOIN und wc ON wa.y = wc.y AND wa.x < wc.x
       |  GROUP BY 1, 2),
       |cand AS (SELECT * FROM wed WHERE NOT EXISTS
       |  (SELECT 1 FROM pairs p WHERE p.pa = wed.a AND p.pb = wed.c))
       |SELECT a, c, common_cnt, da.deg AS deg_a, dc.deg AS deg_c,
       |  ${r6("common_cnt / (1.0 * (da.deg + dc.deg - common_cnt))")} AS jaccard
       |FROM cand JOIN deg da ON da.x = cand.a JOIN deg dc ON dc.x = cand.c
       |ORDER BY common_cnt DESC, a, c LIMIT 30""".stripMargin

  /** Behavioral n-grams (EventOps.eventNgrams): per-user ordered
    * event-type sequence, distinct 3-grams (space-joined, same as the
    * text shingler), user support, top-20.
    */
  val qEventNgrams: String =
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events),
       |s AS (SELECT user_id, list(event_type ORDER BY us, event_id) AS seq
       |  FROM e GROUP BY 1),
       |nt AS (SELECT count(*) AS n FROM s),
       |g AS (SELECT user_id, unnest(list_distinct(
       |  CASE WHEN len(seq) >= 3
       |    THEN list_transform(generate_series(1, len(seq) - 2),
       |      i -> seq[i] || ' ' || seq[i + 1] || ' ' || seq[i + 2])
       |    ELSE CAST([] AS VARCHAR[]) END)) AS gram FROM s)
       |SELECT gram, count(*) AS n_users,
       |  ${r6("count(*) / (1.0 * max(n))")} AS user_share
       |FROM g CROSS JOIN nt GROUP BY gram
       |ORDER BY n_users DESC, gram LIMIT 20""".stripMargin

  /** Lag features (EventOps.lagFeatures): same one-window shape; the
    * rolling mean divides the frame's integer sum by its row count.
    */
  val qLagFeatures: String =
    s"""WITH o AS (SELECT o_orderkey, o_custkey, epoch_us(o_orderdate) AS us,
       |  ${cents("o_totalprice", "100.0")} AS vc FROM orders)
       |SELECT o_orderkey, o_custkey,
       |  CAST(row_number() OVER w AS BIGINT) AS order_idx,
       |  ${r6("lag(vc, 1) OVER w / 100.0")} AS prev_value,
       |  (us - lag(us, 1) OVER w) // 86400000000 AS days_since_prev,
       |  ${r6("sum(vc) OVER wr / (100.0 * count(*) OVER wr)")} AS roll3_value
       |FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY us, o_orderkey),
       |  wr AS (PARTITION BY o_custkey ORDER BY us, o_orderkey
       |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin

  /** Column profile (Relational.profile): per-column distinct-value
    * grid, every stat derived from it; same column list and order.
    */
  val qProfile: String = {
    def one(c: String) =
      s"""SELECT '$c' AS col_name, CAST(sum(cnt) AS BIGINT) AS n,
         |  CAST(coalesce(sum(CASE WHEN v IS NULL THEN cnt END), 0) AS BIGINT) AS n_null,
         |  count(v) AS n_distinct, ${r6("min(v)")} AS min_v, ${r6("max(v)")} AS max_v,
         |  ${r6("sum(CASE WHEN v IS NOT NULL THEN " + cents("v", "100.0") + " * cnt END) / 100.0 / (sum(cnt) - coalesce(sum(CASE WHEN v IS NULL THEN cnt END), 0))")} AS avg_v,
         |  ${r6("max(CASE WHEN v IS NOT NULL THEN cnt END) / (1.0 * (sum(cnt) - coalesce(sum(CASE WHEN v IS NULL THEN cnt END), 0)))")} AS mode_share
         |FROM (SELECT CAST($c AS DOUBLE) AS v, count(*) AS cnt FROM lineitem GROUP BY 1) g""".stripMargin
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_partkey", "l_suppkey")
      .map(one).mkString("\n", "\nUNION ALL\n", "")
  }

  /** BRR bootstrap CI (Relational.bootstrapCi): the same md5-hex-char
    * half-sample membership rule, integerized replicate means, and
    * rank-picked discrete percentiles over the 64-replicate table.
    */
  val qBootstrapCi: String =
    s"""WITH o AS (SELECT md5(CAST(o_orderkey AS VARCHAR)) AS h,
       |  ${cents("o_totalprice", "100.0")} AS vc FROM orders),
       |fan AS (SELECT rep, vc FROM o
       |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS rep) r
       |  WHERE CASE WHEN rep % 2 = 0
       |    THEN substring(h, (rep // 2) + 1, 1) <= '7'
       |    ELSE substring(h, (rep // 2) + 1, 1) >= '8' END),
       |rm AS (SELECT rep, CAST((sum(vc) * 100) // count(*) AS BIGINT) AS m_e4
       |  FROM fan GROUP BY 1),
       |fl AS (SELECT CAST((sum(vc) * 100) // count(*) AS BIGINT) AS mbar_e4,
       |  count(*) AS n_orders FROM o),
       |rk AS (SELECT m_e4, row_number() OVER (ORDER BY m_e4, rep) AS rk FROM rm)
       |SELECT CAST(max(n_orders) AS BIGINT) AS n_orders, count(*) AS n_reps,
       |  ${r6("max(mbar_e4) / 10000.0")} AS mean_value,
       |  ${r6("sqrt(CAST(sum((m_e4 - mbar_e4) * (m_e4 - mbar_e4)) AS BIGINT) / 64.0) / 10000.0")} AS se_brr,
       |  ${r6("CAST(sum(CASE WHEN rk = 4 THEN m_e4 END) AS BIGINT) / 10000.0")} AS ci_lo,
       |  ${r6("CAST(sum(CASE WHEN rk = 32 THEN m_e4 END) AS BIGINT) / 10000.0")} AS ci_mid,
       |  ${r6("CAST(sum(CASE WHEN rk = 61 THEN m_e4 END) AS BIGINT) / 10000.0")} AS ci_hi
       |FROM rk CROSS JOIN fl""".stripMargin

  /** Containment dedup (Dedup.containment): rare-shingle (df 2..10)
    * inverted-index candidates, exact intersection on candidates only,
    * overlap coefficient ≥ 0.5 — the threshold applies to the ROUNDED
    * value on both sides.
    */
  val dedupContainment: String =
    s"""WITH $shingleCte,
       |df AS (SELECT shingle, count(*) AS c FROM sh GROUP BY 1),
       |rare AS (SELECT shingle FROM df WHERE c BETWEEN 2 AND 10),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sh a JOIN rare USING (shingle)
       |  JOIN sh b ON b.shingle = a.shingle AND a.doc_id < b.doc_id),
       |shh AS (SELECT DISTINCT doc_id,
       |  CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) AS h FROM sh),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM shh GROUP BY 1),
       |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter FROM cand c
       |  JOIN shh sa ON sa.doc_id = c.doc_a
       |  JOIN shh sb ON sb.doc_id = c.doc_b AND sb.h = sa.h
       |  GROUP BY 1, 2),
       |sc AS (SELECT doc_a, doc_b, n_inter, za.n_sh AS n_a, zb.n_sh AS n_b,
       |  ${r6("n_inter / (1.0 * least(za.n_sh, zb.n_sh))")} AS containment
       |  FROM inter JOIN sizes za ON za.doc_id = doc_a
       |  JOIN sizes zb ON zb.doc_id = doc_b)
       |SELECT doc_a, doc_b, n_inter, n_a, n_b, containment
       |FROM sc WHERE containment >= 0.5""".stripMargin

  /** Kaplan–Meier survival (EventOps.survival): same integer-folded
    * product recurrence (`//` = Spark's `DIV` on nonnegative longs)
    * over the same bounded curve, as a recursive CTE.
    */
  val qSurvival: String =
    s"""WITH RECURSIVE u AS (SELECT o_custkey, min(epoch_us(o_orderdate)) AS f,
       |    max(epoch_us(o_orderdate)) AS l FROM orders GROUP BY 1),
       |m AS (SELECT max(l) AS mx FROM u),
       |d AS (SELECT (l - f) // 2592000000000 AS dur,
       |  CASE WHEN l < mx - 7776000000000 THEN 1 ELSE 0 END AS churned
       |  FROM u CROSS JOIN m),
       |bd AS (SELECT dur, count(*) AS n_total,
       |  CAST(sum(churned) AS BIGINT) AS n_event FROM d GROUP BY 1),
       |cv AS (SELECT dur, n_event, n_total - n_event AS n_cens,
       |  CAST(sum(n_total) OVER () - coalesce(sum(n_total) OVER (ORDER BY dur
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk,
       |  CAST(row_number() OVER (ORDER BY dur) AS BIGINT) AS rn FROM bd),
       |s(rn, s_e9) AS (
       |  SELECT CAST(0 AS BIGINT) AS rn, CAST(1000000000 AS BIGINT) AS s_e9
       |  UNION ALL
       |  SELECT c.rn, s.s_e9 * (c.n_risk - c.n_event) // c.n_risk
       |  FROM s JOIN cv c ON c.rn = s.rn + 1)
       |SELECT c.dur AS duration_months, c.n_risk, c.n_event, c.n_cens,
       |  ${r6("s.s_e9 / 1000000000.0")} AS survival
       |FROM s JOIN cv c ON c.rn = s.rn ORDER BY c.dur""".stripMargin

  /** 2-D skyline (Relational.skyline): direct running-min formulation
    * — the Spark side's grid pruning is a sound+complete candidate
    * filter, so the unpruned sweep here produces the same set.
    */
  val qSkyline: String =
    s"""WITH pts AS (SELECT o_totalprice AS price, o_orderdate AS odate,
       |    count(*) AS n_orders FROM orders GROUP BY 1, 2),
       |pp AS (SELECT price, min(odate) AS odate FROM pts GROUP BY 1),
       |rm AS (SELECT price, odate, min(odate) OVER (ORDER BY price DESC
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rmin FROM pp)
       |SELECT price, strftime(odate, '%Y-%m-%d') AS order_date, n_orders
       |FROM rm JOIN pts USING (price, odate)
       |WHERE rmin IS NULL OR odate < rmin
       |ORDER BY price DESC""".stripMargin

  /** Decile gains table (Relational.decileLift): ties-together decile
    * from all-integer cumulative rank math (the Spark side computes the
    * same cum via a two-level grid sweep; this mirror can afford the
    * direct one-window form).
    */
  val qDecileLift: String =
    s"""WITH c AS (SELECT c_custkey, ${cents("c_acctbal", "100.0")} AS bal_c FROM customer),
       |nt AS (SELECT count(*) AS n FROM c),
       |g AS (SELECT bal_c, count(*) AS cnt FROM c GROUP BY 1),
       |cm AS (SELECT bal_c, sum(cnt) OVER (ORDER BY bal_c) AS cum FROM g),
       |dd AS (SELECT bal_c, 10 - CAST(floor((cum - 1) * 10.0 / n) AS BIGINT) AS decile
       |  FROM cm CROSS JOIN nt),
       |o AS (SELECT o_custkey, count(*) AS n_o,
       |  sum(${cents("o_totalprice", "100.0")}) AS rev_c FROM orders GROUP BY 1),
       |pd AS (SELECT decile, count(*) AS n_customers,
       |  CAST(sum(coalesce(n_o, 0)) AS BIGINT) AS n_orders,
       |  CAST(sum(coalesce(rev_c, 0)) AS BIGINT) AS rev_c
       |  FROM c JOIN dd USING (bal_c) LEFT JOIN o ON c_custkey = o_custkey GROUP BY 1),
       |f AS (SELECT decile, n_customers, n_orders, rev_c,
       |  CAST(sum(n_customers) OVER w AS BIGINT) AS cum_cust,
       |  CAST(sum(rev_c) OVER w AS BIGINT) AS cum_rev,
       |  CAST(sum(n_customers) OVER () AS BIGINT) AS tot_cust,
       |  CAST(sum(rev_c) OVER () AS BIGINT) AS tot_rev
       |  FROM pd WINDOW w AS (ORDER BY decile))
       |SELECT decile, n_customers, n_orders, ${r6("rev_c / 100.0")} AS revenue,
       |  ${r6("cum_rev / (1.0 * tot_rev)")} AS cum_rev_share,
       |  ${r6("(cum_rev / (1.0 * tot_rev)) / (cum_cust / (1.0 * tot_cust))")} AS lift
       |FROM f ORDER BY decile""".stripMargin

  /** Label propagation (GraphOps.labelProp): 3 unrolled synchronous
    * rounds of most-frequent-neighbor-label (ties to the smallest
    * numeric label — same total order as the Spark loop) over the
    * support-pruned co-purchase graph, reported as community sizes.
    */
  val qLabelProp: String = {
    def round(i: Int) =
      s"""v$i AS (SELECT ed.dst, l.label, count(*) AS n
         |  FROM ed JOIN l${i - 1} l ON ed.src = l.node GROUP BY 1, 2),
         |l$i AS (SELECT dst AS node, label FROM (
         |  SELECT dst, label, row_number() OVER (PARTITION BY dst ORDER BY n DESC, label) AS rn
         |  FROM v$i) WHERE rn = 1)""".stripMargin
    s"""WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |pairs AS (SELECT x.p AS pa, y.p AS pb, count(*) AS sup
       |  FROM b x JOIN b y ON x.o = y.o AND x.p < y.p
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |ed AS (SELECT pa AS src, pb AS dst FROM pairs
       |  UNION ALL SELECT pb AS src, pa AS dst FROM pairs),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM ed),
       |${round(1)},
       |${round(2)},
       |${round(3)}
       |SELECT label AS community, count(*) AS n_nodes
       |FROM l3 GROUP BY 1 ORDER BY n_nodes DESC, community""".stripMargin
  }

  /** Cohort LTV (EventOps.cohortLtv): epoch-week integer cohorts;
    * cents-integerized revenue; per-user rate divides in the same
    * order as Spark.
    */
  val qCohortLtv: String =
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, value FROM events),
       |f AS (SELECT user_id, min(us) // 604800000000 AS cohort_week FROM e GROUP BY 1),
       |s AS (SELECT cohort_week, count(*) AS cohort_users FROM f GROUP BY 1),
       |p AS (SELECT cohort_week, (us // 604800000000) - cohort_week AS week_age,
       |  ${cents("value", "100.0")} AS vc
       |  FROM e JOIN f USING (user_id) WHERE event_type = 'purchase'),
       |g AS (SELECT cohort_week, week_age, count(*) AS n_purchases,
       |  CAST(sum(vc) AS BIGINT) AS vc FROM p GROUP BY 1, 2)
       |SELECT cohort_week, week_age, cohort_users, n_purchases,
       |  ${r6("vc / 100.0")} AS revenue,
       |  ${r6("vc / 100.0 / cohort_users")} AS revenue_per_user
       |FROM g JOIN s USING (cohort_week) ORDER BY 1, 2""".stripMargin

  /** Hapax/type-token profile (TextAnalysis.hapaxProfile). */
  val textHapax: String =
    s"""WITH tokc AS (SELECT source, tok, count(*) AS c FROM
       |  (SELECT source, unnest($toks) AS tok FROM documents) GROUP BY 1, 2),
       |g AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
       |  count(*) AS n_types,
       |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
       |  FROM tokc GROUP BY 1)
       |SELECT source, n_tokens, n_types, n_hapax,
       |  ${r6("n_types / (1.0 * n_tokens)")} AS type_token_ratio,
       |  ${r6("n_hapax / (1.0 * n_types)")} AS hapax_share
       |FROM g ORDER BY source""".stripMargin

  /** Jensen–Shannon divergence (TextAnalysis.jsDivergence): per-token
    * contributions integerized at 1e9; the private-token tail comes
    * from the shared probability masses, no anti-join.
    */
  val textJsDivergence: String =
    s"""WITH tokc AS (SELECT source, tok, count(*) AS c FROM
       |  (SELECT source, unnest($toks) AS tok FROM documents) GROUP BY 1, 2),
       |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM tokc GROUP BY 1),
       |a AS (SELECT tokc.source AS source_a, tok, c / (1.0 * n) AS p
       |  FROM tokc JOIN tot USING (source)),
       |b AS (SELECT tokc.source AS source_b, tok, c / (1.0 * n) AS q
       |  FROM tokc JOIN tot USING (source)),
       |j AS (SELECT source_a, source_b, count(*) AS shared_types,
       |  CAST(sum(${cents("0.5 * (p * ln(p / ((p + q) / 2.0)) + q * ln(q / ((p + q) / 2.0)))", "1000000000.0")}) AS BIGINT) AS s9,
       |  CAST(sum(${cents("p", "1000000000.0")}) AS BIGINT) AS pm9,
       |  CAST(sum(${cents("q", "1000000000.0")}) AS BIGINT) AS qm9
       |  FROM a JOIN b USING (tok) WHERE source_a < source_b GROUP BY 1, 2)
       |SELECT source_a, source_b, shared_types,
       |  ${r6("s9 / 1000000000.0 + 0.5 * ln(2.0) * ((1.0 - pm9 / 1000000000.0) + (1.0 - qm9 / 1000000000.0))")} AS js_divergence
       |FROM j ORDER BY 1, 2""".stripMargin

  /** Repeat-purchase cadence (EventOps.repeatPurchase): lag with the
    * (us, event_id) tiebreak; second-scale integer gaps; exact
    * percentiles.
    */
  val qRepeatPurchase: String =
    s"""WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events
       |  WHERE event_type = 'purchase'),
       |l AS (SELECT user_id,
       |  lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev, us FROM p),
       |g AS (SELECT user_id, (us - prev) // 1000000 AS gap_s FROM l WHERE prev IS NOT NULL)
       |SELECT count(*) AS n_repeat_gaps,
       |  count(DISTINCT user_id) AS n_repeat_users,
       |  ${r6("quantile_cont(gap_s, 0.5)")} AS p50_gap_s,
       |  ${r6("quantile_cont(gap_s, 0.9)")} AS p90_gap_s
       |FROM g""".stripMargin

  /** Vocabulary overlap (TextAnalysis.vocabOverlap): the vocab-sized
    * self-join keyed by token; Jaccard on type counts.
    */
  val textVocabOverlap: String =
    s"""WITH sv AS (SELECT DISTINCT source, tok FROM
       |  (SELECT source, unnest($toks) AS tok FROM documents)),
       |tot AS (SELECT source, count(*) AS n_types FROM sv GROUP BY 1),
       |p AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
       |  FROM sv a JOIN sv b ON a.tok = b.tok AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT source_a, source_b, ta.n_types AS types_a, tb.n_types AS types_b,
       |  n_shared,
       |  ${r6("n_shared / (1.0 * (ta.n_types + tb.n_types - n_shared))")} AS vocab_jaccard
       |FROM p JOIN tot ta ON ta.source = source_a
       |JOIN tot tb ON tb.source = source_b
       |ORDER BY source_a, source_b""".stripMargin

  /** Per-source length profile (TextAnalysis.lengthProfile): exact
    * percentile ↔ quantile_cont; mean tokens from the integer token
    * count over the count.
    */
  val textLengthProfile: String =
    s"""WITH d AS (SELECT source, n_chars,
       |  CAST(len($toks) AS BIGINT) AS n_tokens FROM documents)
       |SELECT source, count(*) AS n_docs,
       |  ${r6("sum(n_tokens) / (1.0 * count(*))")} AS mean_tokens,
       |  ${r6("quantile_cont(n_chars, 0.1)")} AS p10_chars,
       |  ${r6("quantile_cont(n_chars, 0.5)")} AS p50_chars,
       |  ${r6("quantile_cont(n_chars, 0.9)")} AS p90_chars
       |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  /** Dimension variance spectrum (KnnSearch.dimVariance): x at 1e6 and
    * x² at 1e9 integerized per row before the sums, like vsPcaIter.
    */
  val vsDimVariance: String =
    s"""WITH x AS (SELECT i AS pos, embedding[i]::DOUBLE AS v
       |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)),
       |a AS (SELECT pos, count(*) AS n,
       |  CAST(sum(${cents("v", "1000000.0")}) AS BIGINT) AS s6,
       |  CAST(sum(${cents("v * v", "1000000000.0")}) AS BIGINT) AS q9
       |  FROM x GROUP BY 1)
       |SELECT CAST(pos AS BIGINT) AS pos,
       |  ${r6("s6 / 1000000.0 / n")} AS mean_v,
       |  ${r6("q9 / 1000000000.0 / n - (s6 / 1000000.0 / n) * (s6 / 1000000.0 / n)")} AS var_v
       |FROM a ORDER BY pos""".stripMargin

  /** Funnel time-to-convert (EventOps.funnelTime): sequential-first
    * semantics — first view, first click after it, first purchase
    * after that; second-based integer deltas, exact percentiles.
    */
  val qFunnelTime: String =
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
       |fv AS (SELECT user_id, min(us) AS fv FROM e WHERE event_type = 'view' GROUP BY 1),
       |fc AS (SELECT e.user_id, min(us) AS fc, min(fv) AS fv
       |  FROM e JOIN fv USING (user_id)
       |  WHERE event_type = 'click' AND us > fv GROUP BY 1),
       |fp AS (SELECT e.user_id, min(us) AS fp, min(fc) AS fc, min(fc2.fv) AS fv
       |  FROM e JOIN fc fc2 USING (user_id)
       |  WHERE event_type = 'purchase' AND us > fc GROUP BY 1),
       |d AS (SELECT (fc - fv) // 1000000 AS v2c_s, (fp - fc) // 1000000 AS c2p_s FROM fp),
       |nv AS (SELECT count(*) AS n_view_users FROM fv),
       |nc AS (SELECT count(*) AS n_clicked FROM fc)
       |SELECT n_view_users, n_clicked, count(*) AS n_converted,
       |  ${r6("quantile_cont(v2c_s, 0.5)")} AS p50_view_click_s,
       |  ${r6("quantile_cont(v2c_s, 0.9)")} AS p90_view_click_s,
       |  ${r6("quantile_cont(c2p_s, 0.5)")} AS p50_click_purchase_s,
       |  ${r6("quantile_cont(c2p_s, 0.9)")} AS p90_click_purchase_s
       |FROM d, nv, nc GROUP BY 1, 2""".stripMargin

  /** Ship-delay SLA (Relational.shipDelay): date_diff('day') on the
    * midnight-aligned timestamps equals Spark's datediff; exact
    * percentile ↔ quantile_cont per the q_percentiles precedent.
    */
  val qShipDelay: String =
    s"""WITH d AS (SELECT o_orderpriority,
       |  CAST(date_diff('day', o_orderdate, l_shipdate) AS BIGINT) AS delay
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
       |SELECT o_orderpriority, count(*) AS n_lines,
       |  min(delay) AS min_days, max(delay) AS max_days,
       |  ${r6("quantile_cont(delay, 0.5)")} AS p50_days,
       |  ${r6("quantile_cont(delay, 0.9)")} AS p90_days
       |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  /** Seasonality grid (EventOps.seasonalDow): calendar keys from pure
    * integer epoch math (epoch day 0 = Thursday → dow = (day+3)%7,
    * 0 = Monday) — no calendar/timezone functions in either engine.
    */
  val qSeasonalDow: String =
    s"""WITH e AS (SELECT ((epoch_us(ts) // 86400000000) + 3) % 7 AS dow,
       |  (epoch_us(ts) // 3600000000) % 24 AS hour,
       |  ${cents("value", "100.0")} AS vc FROM events),
       |c AS (SELECT dow, hour, count(*) AS n_events, CAST(sum(vc) AS BIGINT) AS vc
       |  FROM e GROUP BY 1, 2),
       |t AS (SELECT CAST(sum(n_events) AS BIGINT) AS tn FROM c)
       |SELECT dow, hour, n_events, ${r6("vc / 100.0")} AS value_sum,
       |  ${r6("n_events / (1.0 * tn)")} AS share
       |FROM c, t ORDER BY dow, hour""".stripMargin

  /** Degree distribution (GraphOps.degreeDist): node degree over the
    * same support-pruned pair set qTriangles uses.
    */
  val qDegreeDist: String =
    s"""WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |pairs AS (SELECT x.p AS pa, y.p AS pb, count(*) AS sup
       |  FROM b x JOIN b y ON x.o = y.o AND x.p < y.p
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |nodes AS (SELECT pa AS part FROM pairs UNION ALL SELECT pb FROM pairs),
       |deg AS (SELECT part, count(*) AS degree FROM nodes GROUP BY 1)
       |SELECT degree, count(*) AS n_nodes FROM deg GROUP BY 1 ORDER BY 1""".stripMargin

  /** k-core shrink curve (GraphOps.kcore): 6 unrolled synchronous peel
    * rounds at k=3 over the same support-pruned pair set qDegreeDist
    * uses — all-integer counts, so no rounding contract at all (`//`
    * keeps the halved edge count BIGINT per the integer-division rule).
    * Every per-round CTE is MATERIALIZED: DuckDB inlines plain CTEs,
    * and each round references the previous one ~5×, so the unrolled
    * inline expansion is ~5^6 pair-stage scans (measured: "too many
    * open files" at sf0.1) — materialization makes the oracle linear
    * in rounds, like the Spark side's per-round cut.
    */
  val qKcore: String = {
    def peel(i: Int) =
      s"""d$i AS MATERIALIZED (SELECT node, count(*) AS deg FROM
         |  (SELECT a AS node FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1}) GROUP BY 1),
         |k$i AS MATERIALIZED (SELECT node FROM d$i WHERE deg >= 3),
         |e$i AS MATERIALIZED (SELECT a, b FROM e${i - 1}
         |  WHERE a IN (SELECT node FROM k$i) AND b IN (SELECT node FROM k$i)),
         |s$i AS (SELECT CAST($i AS BIGINT) AS round_no, count(DISTINCT node) AS n_nodes,
         |  count(*) // 2 AS n_edges FROM
         |  (SELECT a AS node FROM e$i UNION ALL SELECT b FROM e$i))""".stripMargin
    s"""WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |pairs AS MATERIALIZED (SELECT x.p AS pa, y.p AS pb, count(*) AS sup
       |  FROM b x JOIN b y ON x.o = y.o AND x.p < y.p
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |e0 AS MATERIALIZED (SELECT pa AS a, pb AS b FROM pairs),
       |s0 AS (SELECT CAST(0 AS BIGINT) AS round_no, count(DISTINCT node) AS n_nodes,
       |  count(*) // 2 AS n_edges FROM
       |  (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)),
       |${(1 to 6).map(peel).mkString(",\n")}
       |SELECT * FROM s0
       |${(1 to 6).map(i => s"UNION ALL SELECT * FROM s$i").mkString("\n")}
       |ORDER BY round_no""".stripMargin
  }

  /** Daily new-vs-returning users (EventOps.newVsReturning). */
  val qNewReturning: String =
    s"""WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
       |f AS (SELECT user_id, min(day) AS fd FROM ud GROUP BY 1)
       |SELECT day,
       |  CAST(sum(CASE WHEN fd = day THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
       |  CAST(sum(CASE WHEN fd < day THEN 1 ELSE 0 END) AS BIGINT) AS returning_users
       |FROM ud JOIN f USING (user_id) GROUP BY 1 ORDER BY 1""".stripMargin

  /** Zipf fit (TextAnalysis.zipf): every least-squares term integerized
    * (×1e6) before the sums — matches the Spark side bit-for-bit.
    */
  val textZipf: String =
    s"""WITH tok AS (SELECT lang, unnest($toks) AS token FROM documents),
       |cnt AS (SELECT lang, token, count(*) AS c FROM tok GROUP BY 1, 2),
       |rk AS (SELECT lang, c,
       |  row_number() OVER (PARTITION BY lang ORDER BY c DESC, token ASC) AS r
       |  FROM cnt),
       |top AS (SELECT lang, ${cents("ln(r)", "1000000.0")} AS x6,
       |  ${cents("ln(c)", "1000000.0")} AS y6 FROM rk WHERE r <= 100),
       |agg AS (SELECT lang, count(*) AS n, sum(x6) AS sx, sum(y6) AS sy,
       |  sum(${cents("(x6/1000000.0) * (y6/1000000.0)", "1000000.0")}) AS sxy,
       |  sum(${cents("(x6/1000000.0) * (x6/1000000.0)", "1000000.0")}) AS sxx
       |  FROM top GROUP BY 1)
       |SELECT lang, n,
       |  ${r6("(n * (sxy/1000000.0) - (sx/1000000.0)*(sy/1000000.0)) / (n * (sxx/1000000.0) - (sx/1000000.0)*(sx/1000000.0))")} AS zipf_slope,
       |  ${r6("((sy/1000000.0) - ((n * (sxy/1000000.0) - (sx/1000000.0)*(sy/1000000.0)) / (n * (sxx/1000000.0) - (sx/1000000.0)*(sx/1000000.0))) * (sx/1000000.0)) / n")} AS intercept
       |FROM agg ORDER BY lang""".stripMargin

  /** One PCA power iteration (KnnSearch.pcaIter): μ from integerized
    * per-dim sums, s_r and the per-dim contributions integerized before
    * their sums; w = 1/8 constant.
    */
  val vsPcaIter: String =
    s"""WITH x AS (SELECT vec_id, i AS pos, embedding[i]::DOUBLE AS v
       |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)),
       |mu AS (SELECT pos,
       |  (sum(${cents("v", "1000000.0")})/1000000.0) / count(*) AS mu
       |  FROM x GROUP BY pos),
       |s AS (SELECT vec_id,
       |  sum(${cents("(x.v - mu.mu) * 0.125", "1000000.0")}) AS s6
       |  FROM x JOIN mu USING (pos) GROUP BY vec_id),
       |c AS (SELECT x.pos,
       |  sum(${cents("(s.s6/1000000.0) * (x.v - mu.mu)", "1000000.0")}) AS v6
       |  FROM x JOIN mu USING (pos) JOIN s USING (vec_id) GROUP BY x.pos),
       |nrm AS (SELECT sqrt(sum((v6/1000000.0)*(v6/1000000.0))) AS nn FROM c)
       |SELECT CAST(c.pos AS BIGINT) AS pos, ${r6("(v6/1000000.0) / nn")} AS loading
       |FROM c, nrm ORDER BY pos""".stripMargin

  /** Frame sampling (Multimodal.framesQuery): the binary payload is
    * ASCII-encoded text, so byte frames are mirrored as char frames and
    * md5(varchar) equals Spark's md5 over the UTF-8 bytes.
    */
  val mmFrames: String =
    s"""WITH m AS (SELECT doc_id, text,
       |  CAST(ceil(length(text) / 32.0) AS INT) AS nf FROM documents),
       |f AS (SELECT doc_id, unnest(generate_series(0, nf - 1)) AS fi
       |  FROM m WHERE nf > 0)
       |SELECT f.doc_id, CAST(fi AS BIGINT) AS frame_idx,
       |  CAST(length(substr(m.text, fi*32 + 1, 32)) AS BIGINT) AS frame_len,
       |  md5(substr(m.text, fi*32 + 1, 32)) AS frame_hash
       |FROM f JOIN m USING (doc_id) WHERE fi % 4 = 0""".stripMargin

  /** Energy profile (Multimodal.energyQuery): the payload is the UTF-8
    * text bytes, so the per-window byte fold is an ascii fold over the
    * same substrings in both engines.
    */
  val mmEnergy: String =
    s"""WITH m AS (SELECT doc_id, text,
       |  CAST(ceil(length(text) / 32.0) AS INT) AS nw FROM documents),
       |w AS (SELECT doc_id, unnest(generate_series(0, nw - 1)) AS wi
       |  FROM m WHERE nw > 0),
       |x AS (SELECT w.doc_id,
       |  substr(m.text, wi*32 + 1, 32) AS win FROM w JOIN m USING (doc_id)),
       |e AS (SELECT doc_id,
       |  CAST(list_reduce(list_transform(generate_series(1, length(win)),
       |    i -> ascii(substr(win, i, 1))), (a, b) -> a + b) AS BIGINT) AS sum_codes,
       |  CAST(length(win) AS BIGINT) AS wlen FROM x)
       |SELECT doc_id, count(*) AS n_windows,
       |  ${r6("max(sum_codes / (1.0 * wlen))")} AS peak_energy,
       |  ${r6("sum(sum_codes) / (1.0 * sum(wlen))")} AS mean_energy
       |FROM e GROUP BY 1""".stripMargin

  // mm_wav: the Spark side round-trips REAL RIFF/WAVE bytes (encode →
  // chunk-walking parse → windowed RMS); the oracle recomputes the
  // closed-form PCM series ((id·31 + i·7) mod 65536) − 32768 that the
  // WAV payloads carry — the byte stage must be lossless for the hash
  // to match
  val mmWav: String =
    s"""WITH m AS (SELECT doc_id,
       |  CAST(160 + (doc_id % 7) * 16 AS INT) AS n FROM documents),
       |s AS (SELECT doc_id, unnest(generate_series(0, n - 1)) AS i FROM m),
       |v AS (SELECT doc_id, i,
       |  CAST(((doc_id * 31 + i * 7) % 65536) - 32768 AS BIGINT) AS v FROM s),
       |w AS (SELECT doc_id, i // 64 AS widx, sum(v * v) AS ss, count(*) AS n
       |  FROM v GROUP BY 1, 2)
       |SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
       |  CAST(sum(n) AS BIGINT) AS n_samples, count(*) AS n_windows,
       |  ${r6("sqrt(max(ss / (1.0 * n)))")} AS peak_rms,
       |  ${r6("sqrt(sum(ss) / (1.0 * sum(n)))")} AS rms
       |FROM w GROUP BY 1""".stripMargin

  // mm_bmp: the Spark side round-trips REAL BMP bytes (bottom-up AND
  // top-down row order, 4-byte row padding, honored bfOffBits gaps);
  // the oracle recomputes the closed-form 24-bit channels — the byte
  // stage must be lossless, including the row-order flip, for the
  // grid hash to match. Bits decide by integer cross-multiplication
  // (cell_sum·tot_n vs tot_sum·cell_n) in both engines: no division.
  val mmBmp: String =
    s"""WITH m AS (SELECT doc_id,
       |  CAST(8 + doc_id % 9 AS BIGINT) AS w,
       |  CAST(6 + doc_id % 5 AS BIGINT) AS h FROM documents),
       |gx_ AS (SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM m),
       |gxy AS (SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM gx_),
       |px AS (SELECT doc_id, w, h, x, y,
       |  299 * ((doc_id * 7 + y * 11 + x * 13) % 256)
       |  + 587 * ((doc_id * 13 + y * 5 + x * 3) % 256)
       |  + 114 * ((doc_id * 31 + y * 17 + x * 7) % 256) AS lum FROM gxy),
       |cells AS (SELECT doc_id, w, h, (x * 4) // w AS gx, (y * 4) // h AS gy,
       |  sum(lum) AS cell_sum, count(*) AS cell_n FROM px GROUP BY 1, 2, 3, 4, 5),
       |tot AS (SELECT doc_id, w, h, CAST(sum(cell_sum) AS BIGINT) AS tot_sum,
       |  CAST(sum(cell_n) AS BIGINT) AS tot_n FROM cells GROUP BY 1, 2, 3)
       |SELECT c.doc_id, w AS width, h AS height, tot_n AS n_pixels,
       |  CAST(floor(w * 128.0 / greatest(w, h)) AS BIGINT) AS rs_width,
       |  CAST(floor(h * 128.0 / greatest(w, h)) AS BIGINT) AS rs_height,
       |  ${r6("tot_sum / (1000.0 * tot_n)")} AS mean_lum,
       |  CAST(sum(CASE WHEN cell_sum * tot_n > tot_sum * cell_n
       |    THEN CAST(1 AS BIGINT) << CAST(gy * 4 + gx AS INT) ELSE 0 END) AS BIGINT)
       |    AS phash
       |FROM cells c JOIN tot USING (doc_id, w, h)
       |GROUP BY c.doc_id, w, h, tot_sum, tot_n""".stripMargin

  // text_bpe_tokens (r11): the committed BPE artifact's merges table is
  // INLINED here (rank-ordered VALUES) and the apply loop runs as a
  // recursive CTE over the same separator-string semantics the Scala
  // tokenizer uses — state = chr(1)-joined-and-bounded codepoints, each
  // step replaces the lowest-rank boundary-delimited pair left-to-right
  // non-overlapping, recursion per word ends when no merge applies.
  // Distinct words fold once and join back to per-doc counts.
  /** The shared BPE fold CTEs: `merges` (the committed artifact's
    * rank-ordered table, inlined), and `init/it/fin` folding a `w1`
    * relation's distinct words to their final separator-states. Both
    * BPE queries (documents, customer-name slice) assemble around it.
    */
  private lazy val bpeFoldCtes: String = {
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    // r12 double-separator states: each token rides as chr(1)||t||chr(1)
    // so adjacent pair patterns share no characters and the string
    // replace equals token-level left-to-right merging on runs of
    // identical tokens (see BpeTokenizer's scaladoc)
    val values = graft.operators.BpeTokenizer.default.merges.zipWithIndex
      .map { case ((a, b), i) =>
        s"(${i + 1}, chr(1)||${q(a)}||chr(1)||chr(1)||${q(b)}||chr(1), chr(1)||${q(a + b)}||chr(1))"
      }.mkString(", ")
    s"""merges(rank, pat, rep) AS (SELECT * FROM (VALUES $values) t(rank, pat, rep)),
       |dw AS (SELECT DISTINCT w FROM w1),
       |init AS (SELECT w,
       |  array_to_string(list_transform(regexp_split_to_array(w, ''),
       |    c -> chr(1) || c || chr(1)), '') AS state
       |  FROM dw),
       |it AS (SELECT w, state FROM init
       |  UNION ALL
       |  SELECT i.w, replace(i.state, m.pat, m.rep)
       |  FROM it i JOIN LATERAL (SELECT pat, rep FROM merges WHERE contains(i.state, pat)
       |    ORDER BY rank LIMIT 1) m ON true),
       |fin AS (SELECT w, length(w) AS n_chars_w,
       |    (length(state) - length(replace(state, chr(1), ''))) // 2 AS n_bpe_w
       |  FROM it i
       |  WHERE NOT EXISTS (SELECT 1 FROM merges m WHERE contains(i.state, m.pat)))""".stripMargin
  }

  val textBpeTokens: String =
    s"""WITH RECURSIVE
       |w1 AS (SELECT doc_id, w
       |  FROM (SELECT doc_id, unnest($toks) AS w FROM documents) WHERE w <> ''),
       |$bpeFoldCtes,
       |agg AS (SELECT doc_id, count(*) AS n_words,
       |    CAST(sum(n_chars_w) AS BIGINT) AS n_chars_tok,
       |    CAST(sum(n_bpe_w) AS BIGINT) AS n_bpe
       |  FROM w1 JOIN fin USING (w) GROUP BY 1)
       |SELECT d.doc_id, coalesce(n_words, 0) AS n_words,
       |  coalesce(n_chars_tok, 0) AS n_chars_tok, coalesce(n_bpe, 0) AS n_bpe,
       |  CASE WHEN n_bpe > 0 THEN ${r6("n_chars_tok / (1.0 * n_bpe)")} END AS compression
       |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin

  // text_bpe_ids (r12): the 2k-merge artifact's subword behavior is
  // exercised by IDENTIFIER-shaped words (documents' 31-word Zipf head
  // collapses to single tokens — the realistic outcome for frequent
  // words). The c_custkey % 11 slice keeps the recursive fold's cost
  // bounded in DuckDB (distinct-name count × iterations × merge scans);
  // the Spark side runs the same fold over the memoized broadcast
  // tokenizer with no such constraint.
  val textBpeIds: String =
    s"""WITH RECURSIVE
       |cs AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 11 = 0),
       |w1 AS (SELECT c_custkey, w
       |  FROM (SELECT c_custkey,
       |    unnest(string_split_regex(trim(c_name), '\\s+')) AS w FROM cs) WHERE w <> ''),
       |$bpeFoldCtes,
       |agg AS (SELECT c_custkey, count(*) AS n_words,
       |    CAST(sum(n_chars_w) AS BIGINT) AS n_chars_tok,
       |    CAST(sum(n_bpe_w) AS BIGINT) AS n_bpe
       |  FROM w1 JOIN fin USING (w) GROUP BY 1)
       |SELECT c.c_custkey, coalesce(n_words, 0) AS n_words,
       |  coalesce(n_chars_tok, 0) AS n_chars_tok, coalesce(n_bpe, 0) AS n_bpe,
       |  CASE WHEN n_bpe > 0 THEN ${r6("n_chars_tok / (1.0 * n_bpe)")} END AS compression
       |FROM cs c LEFT JOIN agg USING (c_custkey)""".stripMargin

  // mm_bmp_resample (r11): box-filter resample of the DECODED pixel
  // grid to a fixed 8×6 target — each source pixel lands in one target
  // cell ((x·8)//w, (y·6)//h), the resampled pixel is the integer mean
  // cell_sum // cell_n, and the dHash bit compares neighbor cells by
  // integer cross-multiplication. The oracle recomputes the closed-form
  // channels; the Spark side must round-trip real BMP bytes losslessly
  // (row order, stride padding, bfOffBits) for the checksum to match.
  val mmBmpResample: String =
    s"""WITH m AS (SELECT doc_id,
       |  CAST(8 + doc_id % 9 AS BIGINT) AS w,
       |  CAST(6 + doc_id % 5 AS BIGINT) AS h FROM documents),
       |gx_ AS (SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM m),
       |gxy AS (SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM gx_),
       |px AS (SELECT doc_id, w, h, x, y,
       |  299 * ((doc_id * 7 + y * 11 + x * 13) % 256)
       |  + 587 * ((doc_id * 13 + y * 5 + x * 3) % 256)
       |  + 114 * ((doc_id * 31 + y * 17 + x * 7) % 256) AS lum FROM gxy),
       |cells AS (SELECT doc_id, w, h, (x * 8) // w AS gx, (y * 6) // h AS gy,
       |  sum(lum) AS cell_sum, count(*) AS cell_n FROM px GROUP BY 1, 2, 3, 4, 5),
       |rs AS (SELECT doc_id, w, h, gx, gy, cell_sum, cell_n,
       |  cell_sum // cell_n AS rpx,
       |  lead(cell_sum) OVER (PARTITION BY doc_id, gy ORDER BY gx) AS nsum,
       |  lead(cell_n) OVER (PARTITION BY doc_id, gy ORDER BY gx) AS nn
       |  FROM cells)
       |SELECT doc_id, w AS width, h AS height, count(*) AS n_cells,
       |  CAST(sum(rpx * (gy * 8 + gx + 1)) AS BIGINT) AS rs_checksum,
       |  CAST(sum(CASE WHEN nsum * cell_n > cell_sum * nn
       |    THEN CAST(1 AS BIGINT) << CAST(gy * 7 + gx AS INT) ELSE 0 END) AS BIGINT)
       |    AS dhash
       |FROM rs GROUP BY 1, 2, 3""".stripMargin

  val mmResize: String =
    s"""WITH m AS (SELECT doc_id,
       |  CAST((n_chars % 64) * 10 + 10 AS INT) AS width,
       |  CAST((n_chars % 48) * 10 + 10 AS INT) AS height FROM documents)
       |SELECT doc_id, width, height,
       |  CAST(floor((width * 128.0) / greatest(width, height)) AS INT) AS rs_width,
       |  CAST(floor((height * 128.0) / greatest(width, height)) AS INT) AS rs_height
       |FROM m""".stripMargin

  val vsDrift: String =
    s"""WITH pe AS (SELECT CAST(vec_id % 2 AS BIGINT) AS half, i AS pos,
       |  embedding[i]::DOUBLE AS v
       |  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) dims),
       |ag AS (SELECT half, pos,
       |  CAST(sum(CAST(floor(v * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS s,
       |  count(*) AS n FROM pe GROUP BY 1, 2),
       |m AS (SELECT half, pos, s / (1000000000.0 * n) AS mean FROM ag)
       |SELECT CAST(r.pos AS BIGINT) AS dim, ${r6("r.mean")} AS mean_ref,
       |  ${r6("c.mean")} AS mean_cur, ${r6("abs(c.mean - r.mean)")} AS shift
       |FROM m r JOIN m c ON r.pos = c.pos AND r.half = 0 AND c.half = 1""".stripMargin

  /** MaxSim late-interaction scoring — the relational mirror of
    * KnnSearch.multivecSearch (4×16-dim parts, Σ_s max_t sub-dots).
    */
  val vsMultivec: String = {
    val maxsim = (0 until 4).map { s =>
      s"greatest(${(0 until 4).map { t =>
        dot(s"list_slice(q.qv, ${s * 16 + 1}, ${s * 16 + 16})",
          s"list_slice(e.embedding, ${t * 16 + 1}, ${t * 16 + 16})")
      }.mkString(", ")})"
    }.mkString(" + ")
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |sc AS (SELECT e.vec_id, $maxsim AS ms FROM embeddings e CROSS JOIN q)
       |SELECT vec_id, ${r6("ms")} AS maxsim
       |FROM sc ORDER BY ms DESC, vec_id LIMIT 10""".stripMargin
  }

  /** k=5 unrolled MMR picks — the relational mirror of
    * KnnSearch.mmrSearch's greedy loop (λ=0.7, μ=0.3 as literals).
    */
  val vsMmr: String = {
    val lam = "(0.7)::DOUBLE"
    val mu = "(0.3)::DOUBLE"
    val levels = (2 to 5).map { t =>
      val prev = (1 until t).map(j => s"s$j")
      val mx =
        if (prev.size == 1) dot("c.embedding", "s1.embedding")
        else s"greatest(${prev.map(p => dot("c.embedding", s"$p.embedding")).mkString(", ")})"
      val crosses = prev.map(p => s"CROSS JOIN $p").mkString(" ")
      val excl = prev.map(p => s"c.vec_id != $p.vec_id").mkString(" AND ")
      s"""m$t AS (SELECT c.vec_id, c.embedding, c.rel, $mx AS mx
         |  FROM pool c $crosses WHERE $excl),
         |s$t AS (SELECT vec_id, embedding, $lam * rel - $mu * mx AS mmr
         |  FROM m$t ORDER BY mmr DESC, vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val finals = (1 to 5)
      .map(t => s"SELECT CAST($t AS BIGINT) AS rnk, vec_id, ${r6("mmr")} AS mmr FROM s$t")
      .mkString("\nUNION ALL ")
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |pool AS (SELECT e.vec_id, e.embedding, ${dot("e.embedding", "q.qv")} AS rel
       |  FROM embeddings e CROSS JOIN q ORDER BY rel DESC, e.vec_id LIMIT 20),
       |s1 AS (SELECT vec_id, embedding, $lam * rel AS mmr
       |  FROM pool ORDER BY rel DESC, vec_id LIMIT 1),
       |$levels
       |$finals""".stripMargin
  }

  /** One 32-bit sign-bit word: bit (i-off) set ⟺ component i > 0.
    * Integer shifts only — exact in both engines.
    */
  private def signWord(v: String, lo: Int, off: Int) =
    s"list_reduce(list_transform(generate_series($lo, ${lo + 31}), " +
      s"i -> CASE WHEN $v[i] > 0 THEN (1::BIGINT << (i - $off)) ELSE 0::BIGINT END), (a, b) -> a + b)"

  val vsBinarySearch: String =
    s"""WITH qr AS (SELECT embedding AS qv_raw FROM embeddings WHERE vec_id = 0),
       |qb AS (SELECT qv_raw, ${signWord("qv_raw", 1, 1)} AS q_lo,
       |  ${signWord("qv_raw", 33, 33)} AS q_hi FROM qr),
       |cb AS (SELECT vec_id, embedding, ${signWord("embedding", 1, 1)} AS sig_lo,
       |  ${signWord("embedding", 33, 33)} AS sig_hi FROM embeddings),
       |h AS (SELECT c.vec_id, c.embedding, q.qv_raw,
       |  CAST(bit_count(xor(c.sig_lo, q.q_lo)) + bit_count(xor(c.sig_hi, q.q_hi)) AS BIGINT) AS hamming
       |  FROM cb c CROSS JOIN qb q),
       |cand AS (SELECT vec_id, hamming, ${dot("embedding", "qv_raw")} AS exact
       |  FROM h ORDER BY hamming, vec_id LIMIT 50)
       |SELECT vec_id, hamming, ${r6("exact")} AS score
       |FROM cand ORDER BY exact DESC, vec_id LIMIT 10""".stripMargin

  val vsMatryoshka: String =
    s"""WITH q AS (SELECT embedding AS qv_raw, list_slice(embedding, 1, 16) AS q_sub
       |  FROM embeddings WHERE vec_id = 0),
       |s AS (SELECT e.vec_id, e.embedding, q.qv_raw,
       |  ${dot("list_slice(e.embedding, 1, 16)", "q.q_sub")} AS sub_score
       |  FROM embeddings e CROSS JOIN q),
       |cand AS (SELECT vec_id, sub_score, ${dot("embedding", "qv_raw")} AS exact
       |  FROM s ORDER BY sub_score DESC, vec_id LIMIT 50)
       |SELECT vec_id, ${r6("sub_score")} AS sub_score, ${r6("exact")} AS score
       |FROM cand ORDER BY exact DESC, vec_id LIMIT 10""".stripMargin

  val textTfidf: String =
    s"""WITH tok AS (SELECT doc_id, unnest($toks) AS token FROM documents),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
       |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
       |st AS (SELECT count(*) AS n_docs FROM documents),
       |sc AS (SELECT doc_id, token, tf, df,
       |  ${cents("tf * ln(n_docs / ((1.0)::DOUBLE * df))", "1000000.0")} AS score_e6
       |  FROM tf JOIN dfq USING(token) CROSS JOIN st WHERE doc_id < 20),
       |r AS (SELECT doc_id, token, tf, df, score_e6,
       |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score_e6 DESC, token) AS BIGINT) AS rnk
       |  FROM sc)
       |SELECT doc_id, rnk, token, tf, df, score_e6 / (1000000.0)::DOUBLE AS tfidf
       |FROM r WHERE rnk <= 3""".stripMargin

  /** Unigram LM score (TextAnalysis.lmScore): the r14 bucketed model —
    * the LM is trained over the DSIR hashed-bucket feature space (md5
    * 2-hex-char prefix → 0..255, same ladder as textDsir), per-bucket
    * log-probs integerized before the per-doc sum.
    */
  val textLmScore: String = {
    val hexv = (i: Int) => s"(instr('0123456789abcdef', substring(md5(token), $i, 1)) - 1)"
    s"""WITH tb AS (SELECT doc_id, ${hexv(1)} * 16 + ${hexv(2)} AS b
       |  FROM (SELECT doc_id, unnest($toks) AS token FROM documents)),
       |freq AS (SELECT b, count(*) AS cnt FROM tb GROUP BY 1),
       |tot AS (SELECT sum(cnt) AS n_total FROM freq),
       |lut AS (SELECT b, ${cents("ln(cnt / ((1.0)::DOUBLE * n_total))", "1000000.0")} AS lp_e6
       |  FROM freq CROSS JOIN tot),
       |d AS (SELECT doc_id, CAST(sum(lp_e6) AS BIGINT) AS sum_lp_e6, count(*) AS n_toks
       |  FROM tb JOIN lut USING(b) GROUP BY 1)
       |SELECT doc_id, n_toks, ${r6("sum_lp_e6 / ((1000000.0)::DOUBLE * n_toks)")} AS avg_logprob
       |FROM d ORDER BY avg_logprob, doc_id LIMIT 10""".stripMargin
  }

  /** DSIR importance weights (TextAnalysis.dsirWeights): same hashed
    * unigram buckets (md5 2-hex-char prefix → 0..255), add-one-smoothed
    * target/source log ratio integerized per token before the doc sum.
    */
  val textDsir: String = {
    val hexv = (i: Int) => s"(instr('0123456789abcdef', substring(md5(token), $i, 1)) - 1)"
    s"""WITH tb AS (SELECT doc_id, lang,
       |  ${hexv(1)} * 16 + ${hexv(2)} AS b
       |  FROM (SELECT doc_id, lang, unnest($toks) AS token FROM documents)),
       |tgt AS (SELECT b, count(*) AS ct FROM tb WHERE lang = 'en' GROUP BY 1),
       |src AS (SELECT b, count(*) AS cs FROM tb GROUP BY 1),
       |tt AS (SELECT (SELECT sum(cs) FROM src) AS s_tot,
       |  (SELECT sum(ct) FROM tgt) AS t_tot),
       |lut AS (SELECT s.b, ${cents(
             "ln(((coalesce(ct, 0) + 1.0) * (s_tot + 256.0)) / " +
               "((cs + 1.0) * (t_tot + 256.0)))", "1000000.0")} AS lr_e6
       |  FROM src s LEFT JOIN tgt t ON s.b = t.b CROSS JOIN tt),
       |d AS (SELECT doc_id, lang, CAST(sum(lr_e6) AS BIGINT) AS sum_lr_e6,
       |  count(*) AS n_toks FROM tb JOIN lut USING(b) GROUP BY 1, 2)
       |SELECT doc_id, lang, n_toks,
       |  ${r6("sum_lr_e6 / (1000000.0)::DOUBLE")} AS dsir_score
       |FROM d ORDER BY dsir_score DESC, doc_id LIMIT 20""".stripMargin
  }

  /** CCNet perplexity terciles (TextAnalysis.pplBuckets): the lmScore
    * per-doc chain + the decileLift ties-together rank, 3 buckets.
    */
  val textPplBuckets: String =
    s"""WITH tok AS (SELECT doc_id, lang, unnest($toks) AS token FROM documents),
       |freq AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
       |tot AS (SELECT count(*) AS n_total FROM tok),
       |c AS (SELECT doc_id, lang,
       |  ${cents("ln(cnt / ((1.0)::DOUBLE * n_total))", "1000000.0")} AS lp_e6
       |  FROM tok JOIN freq USING(token) CROSS JOIN tot),
       |d AS (SELECT doc_id, lang, CAST(sum(lp_e6) AS BIGINT) AS sum_lp_e6,
       |  count(*) AS n_toks FROM c GROUP BY 1, 2),
       |sc AS (SELECT doc_id, lang, n_toks,
       |  ${r6("sum_lp_e6 / ((1000000.0)::DOUBLE * n_toks)")} AS score FROM d),
       |nt AS (SELECT count(*) AS n FROM sc),
       |g AS (SELECT score, count(*) AS cnt FROM sc GROUP BY 1),
       |cm AS (SELECT score, sum(cnt) OVER (ORDER BY score) AS cum FROM g),
       |tc AS (SELECT score, CAST(floor((cum - 1) * 3.0 / n) AS BIGINT) AS t
       |  FROM cm CROSS JOIN nt),
       |b AS (SELECT lang, n_toks, sc.score,
       |  CASE WHEN t = 2 THEN 'head' WHEN t = 1 THEN 'middle' ELSE 'tail' END AS bucket
       |  FROM sc JOIN tc USING(score))
       |SELECT lang, bucket, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_toks,
       |  min(score) AS score_min, max(score) AS score_max
       |FROM b GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin

  /** Deterministic shard shuffle (TrainingMix.shardShuffle): the direct
    * one-window-per-shard rank the Spark side reproduces via bounded
    * prefix-bucket offsets.
    */
  val qShardShuffle: String =
    s"""WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
       |s AS (SELECT doc_id, h,
       |  CAST((instr('0123456789abcdef', substring(h, 1, 1)) - 1) % 8 AS BIGINT) AS shard
       |  FROM h)
       |SELECT doc_id, shard,
       |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos
       |FROM s""".stripMargin

  val textContamination: String =
    s"""WITH $shingleCte,
       |ng AS (SELECT doc_id, count(*) AS n_grams FROM sh GROUP BY 1),
       |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
       |hits AS (SELECT s.doc_id, count(*) AS n_hit FROM sh s JOIN bench USING(shingle)
       |  WHERE s.doc_id % 97 != 0 GROUP BY 1)
       |SELECT h.doc_id, ng.n_grams AS n_grams, h.n_hit AS n_hit,
       |  ${r6("h.n_hit / ((1.0)::DOUBLE * ng.n_grams)")} AS contamination
       |FROM hits h JOIN ng USING(doc_id)""".stripMargin

  val qAnomaly: String =
    s"""WITH m AS (SELECT o_orderpriority, count(*) AS n,
       |  CAST(sum(${cents("o_totalprice", "1.0")}) AS BIGINT) AS sx,
       |  CAST(sum(${cents("o_totalprice", "1.0")} * ${cents("o_totalprice", "1.0")}) AS BIGINT) AS sxx
       |  FROM orders GROUP BY 1),
       |st AS (SELECT o_orderpriority, sx / ((1.0)::DOUBLE * n) AS mean,
       |  sqrt(sxx / ((1.0)::DOUBLE * n)
       |    - (sx / ((1.0)::DOUBLE * n)) * (sx / ((1.0)::DOUBLE * n))) AS std FROM m),
       |z AS (SELECT o_orderkey, o.o_orderpriority, ${cents("o_totalprice", "1.0")} AS ip,
       |  (${cents("o_totalprice", "1.0")} - mean) / std AS z
       |  FROM orders o JOIN st ON o.o_orderpriority = st.o_orderpriority)
       |SELECT o_orderkey, o_orderpriority, ip * (1.0)::DOUBLE AS price, ${r6("z")} AS z
       |FROM z ORDER BY abs(z) DESC, o_orderkey LIMIT 15""".stripMargin

  val qEventsPath: String =
    s"""WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
       |l AS (SELECT user_id, event_id, event_type, us,
       |  lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev FROM e),
       |n AS (SELECT user_id, event_id, event_type, us,
       |  CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS is_new FROM l),
       |s AS (SELECT user_id, event_id, event_type, us,
       |  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM n),
       |p AS (SELECT user_id, session_id,
       |  string_agg(event_type, '>' ORDER BY us, event_id) AS path FROM s GROUP BY 1, 2)
       |SELECT path, count(*) AS n_sessions FROM p
       |GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 15""".stripMargin

  /** Gopher-style repetition rules — mirrors TextAnalysis.gopherRules:
    * nested list lambdas give the same top-2-gram mode, the keep
    * thresholds compare the r6-rounded doubles on both sides.
    */
  val textGopher: String =
    s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
       |g AS (SELECT doc_id, tk,
       |  CASE WHEN len(tk) >= 2 THEN list_transform(generate_series(1, len(tk) - 1),
       |    i -> tk[i] || ' ' || tk[i + 1]) ELSE CAST([] AS VARCHAR[]) END AS g2,
       |  CASE WHEN len(tk) >= 3 THEN list_transform(generate_series(1, len(tk) - 2),
       |    i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]) ELSE CAST([] AS VARCHAR[]) END AS g3
       |FROM t),
       |s AS (SELECT doc_id,
       |  CAST(len(tk) AS BIGINT) AS n_toks,
       |  CAST(len(list_distinct(tk)) AS BIGINT) AS n_uniq,
       |  CAST(len(g2) AS BIGINT) AS n_g2,
       |  CAST(coalesce(list_max(list_transform(g2, x -> len(list_filter(g2, y -> y = x)))), 0) AS BIGINT) AS top2_cnt,
       |  CAST(len(g3) AS BIGINT) AS n_g3,
       |  CAST(len(list_distinct(g3)) AS BIGINT) AS n_g3_uniq,
       |  CAST(list_reduce(list_transform(tk, w -> CAST(length(w) AS BIGINT)), (x, y) -> x + y) AS BIGINT) AS sum_wlen
       |FROM g),
       |r AS (SELECT doc_id, n_toks,
       |  ${r6("n_uniq / (1.0 * n_toks)")} AS uniq_frac,
       |  CASE WHEN n_g2 > 0 THEN ${r6("top2_cnt / (1.0 * n_g2)")} ELSE 0.0 END AS top2_frac,
       |  CASE WHEN n_g3 > 0 THEN ${r6("(n_g3 - n_g3_uniq) / (1.0 * n_g3)")} ELSE 0.0 END AS dup3_frac,
       |  ${r6("sum_wlen / (1.0 * n_toks)")} AS mean_wlen
       |FROM s)
       |SELECT doc_id, n_toks, uniq_frac, top2_frac, dup3_frac, mean_wlen,
       |  CAST(top2_frac <= 0.08 AND uniq_frac >= 0.42 AND mean_wlen >= 3.0 AND mean_wlen <= 10.0 AS BIGINT) AS keep
       |FROM r""".stripMargin

  /** Exact 8-token-window substring dedup — mirrors
    * Dedup.substringDupes (distinct windows per doc, group cap 8).
    */
  val dedupSubstring: String = {
    val win8 = (0 until 8).map(o => s"tk[i + $o]").mkString(" || ' ' || ")
    s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
       |w AS (SELECT doc_id, unnest(list_distinct(
       |  CASE WHEN len(tk) >= 8 THEN list_transform(generate_series(1, len(tk) - 7),
       |    i -> $win8)
       |  ELSE CAST([] AS VARCHAR[]) END)) AS win FROM t),
       |wh AS (SELECT doc_id, md5(win) AS h FROM w),
       |grp AS (SELECT h FROM (SELECT h, count(*) AS nd FROM wh GROUP BY 1) WHERE nd BETWEEN 2 AND 8)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_windows
       |FROM wh a JOIN grp USING(h) JOIN wh b USING(h)
       |WHERE a.doc_id < b.doc_id GROUP BY 1, 2""".stripMargin
  }

  /** A/B conversion readout — mirrors EventOps.abTest. */
  val qEventsAb: String =
    s"""WITH e AS (SELECT user_id, event_type, value FROM events),
       |u AS (SELECT user_id,
       |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted,
       |  CAST(sum(CASE WHEN event_type = 'purchase' THEN ${cents("value", "100.0")} ELSE 0 END) AS BIGINT) AS rev_cents
       |FROM e GROUP BY 1)
       |SELECT CAST(((user_id % 2) + 2) % 2 AS BIGINT) AS variant,
       |  count(*) AS n_users,
       |  CAST(sum(converted) AS BIGINT) AS n_converted,
       |  ${r6("sum(converted) / (1.0 * count(*))")} AS conv_rate,
       |  CAST(sum(rev_cents) AS BIGINT) AS rev_cents
       |FROM u GROUP BY 1""".stripMargin

  /** Markov transition matrix — mirrors EventOps.markovTransitions. */
  val qEventsMarkov: String =
    s"""WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
       |l AS (SELECT event_type AS from_type,
       |  lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS to_type FROM e),
       |c AS (SELECT from_type, to_type, count(*) AS n FROM l
       |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
       |SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
       |  ${r6("n / (1.0 * (CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT)))")} AS p
       |FROM c""".stripMargin

  /** IVF cluster label purity — mirrors IvfIndex.clusterPurity. */
  val vsClusterPurity: String =
    s"""WITH $ivfCtes,
       |cl AS (SELECT a.cluster_id, CAST(e.label AS BIGINT) AS label, count(*) AS n
       |  FROM asg a JOIN embeddings e USING(vec_id) GROUP BY 1, 2),
       |rk AS (SELECT cluster_id, label, n,
       |  CAST(sum(n) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_vecs,
       |  row_number() OVER (PARTITION BY cluster_id ORDER BY n DESC, label) AS rn FROM cl)
       |SELECT cluster_id, n_vecs, label AS top_label, CAST(n AS BIGINT) AS n_top,
       |  ${r6("n / (1.0 * n_vecs)")} AS purity
       |FROM rk WHERE rn = 1""".stripMargin

  /** Token-distribution entropy — mirrors TextAnalysis.entropyScore.
    * Per-term contributions are integerized longs, so the fold order
    * (DuckDB list_distinct vs Spark array_distinct) cannot matter.
    */
  val textEntropy: String =
    s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
       |s AS (SELECT doc_id,
       |  CAST(len(tk) AS BIGINT) AS n_toks,
       |  CAST(len(list_distinct(tk)) AS BIGINT) AS n_uniq,
       |  CAST(coalesce(list_reduce(list_transform(list_distinct(tk),
       |    t2 -> CAST(floor((-(len(list_filter(tk, y -> y = t2)) / (1.0 * len(tk)))
       |      * ln(len(list_filter(tk, y -> y = t2)) / (1.0 * len(tk)))) * 1000000.0 + 0.5) AS BIGINT)),
       |    (a, b) -> a + b), 0) AS BIGINT) AS ent_e6
       |FROM t)
       |SELECT doc_id, n_toks, n_uniq,
       |  ${r6("ent_e6 / 1000000.0")} AS entropy,
       |  CASE WHEN n_uniq > 1 THEN ${r6("ent_e6 / (1000000.0 * ln(n_uniq))")} ELSE 0.0 END AS norm_entropy
       |FROM s""".stripMargin

  /** Bigram LM scoring — mirrors TextAnalysis.bigramLm. */
  val textBigramLm: String =
    s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
       |b AS (SELECT doc_id, unnest(
       |  CASE WHEN len(tk) >= 2 THEN list_transform(generate_series(1, len(tk) - 1),
       |    i -> tk[i] || ' ' || tk[i + 1]) ELSE CAST([] AS VARCHAR[]) END) AS bg FROM t),
       |cb AS (SELECT bg, count(*) AS cbg FROM b GROUP BY 1),
       |cp AS (SELECT split_part(bg, ' ', 1) AS pre, count(*) AS cpre FROM b GROUP BY 1),
       |j AS (SELECT doc_id,
       |  CAST(floor(ln(cbg / (1.0 * cpre)) * 1000000.0 + 0.5) AS BIGINT) AS lp_e6
       |  FROM b JOIN cb USING(bg) JOIN cp ON split_part(b.bg, ' ', 1) = cp.pre),
       |g AS (SELECT doc_id, CAST(sum(lp_e6) AS BIGINT) AS sum_lp_e6, count(*) AS n_bigrams
       |  FROM j GROUP BY 1)
       |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       |  ${r6("sum_lp_e6 / (1000000.0 * n_bigrams)")} AS avg_logprob
       |FROM g ORDER BY avg_logprob, doc_id LIMIT 10""".stripMargin

  /** Windowed funnel — mirrors EventOps.windowedFunnel (7-day steps). */
  val qFunnelWindowed: String =
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
       |v AS (SELECT user_id, min(us) AS view_us FROM e WHERE event_type = 'view' GROUP BY 1),
       |c AS (SELECT e.user_id, min(us) AS click_us FROM e JOIN v USING(user_id)
       |  WHERE event_type = 'click' AND us > view_us AND us <= view_us + 604800000000 GROUP BY 1),
       |p AS (SELECT e.user_id, min(us) AS purchase_us FROM e JOIN c USING(user_id)
       |  WHERE event_type = 'purchase' AND us > click_us AND us <= click_us + 604800000000 GROUP BY 1)
       |SELECT (SELECT count(*) FROM v) AS n_view,
       |  (SELECT count(*) FROM c) AS n_click,
       |  (SELECT count(*) FROM p) AS n_purchase,
       |  ${r6("(SELECT count(*) FROM c) / (1.0 * (SELECT count(*) FROM v))")} AS click_rate,
       |  ${r6("(SELECT count(*) FROM p) / (1.0 * (SELECT count(*) FROM v))")} AS purchase_rate""".stripMargin

  /** Skew-safe salted aggregation — the oracle is the PLAIN group-by
    * (the salted two-stage plan must be exactly equivalent).
    */
  val qSkewAgg: String =
    s"""SELECT event_type, count(*) AS n,
       |  CAST(sum(${cents("value", "100.0")}) AS BIGINT) AS sum_cents
       |FROM events GROUP BY 1""".stripMargin

  /** RFM segmentation — mirrors EventOps.rfmSegments (integerized
    * quintile-threshold compares; quantile_cont ≡ Spark percentile).
    */
  val qRfm: String = {
    def thr(c: String, q: String) = cents(s"quantile_cont($c, $q)", "1000000.0")
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, value FROM events),
       |pu AS (SELECT user_id, max(us) AS last_us, count(*) AS freq,
       |  CAST(sum(CASE WHEN event_type = 'purchase' THEN ${cents("value", "100.0")} ELSE 0 END) AS BIGINT) AS mon_cents
       |FROM e GROUP BY 1),
       |mx AS (SELECT max(us) AS max_us FROM e),
       |u AS (SELECT user_id, (max_us - last_us) // 86400000000 AS rec_days, freq, mon_cents FROM pu, mx),
       |th AS (SELECT
       |  ${thr("rec_days", "0.2")} AS r1, ${thr("rec_days", "0.4")} AS r2,
       |  ${thr("rec_days", "0.6")} AS r3, ${thr("rec_days", "0.8")} AS r4,
       |  ${thr("freq", "0.2")} AS f1, ${thr("freq", "0.4")} AS f2,
       |  ${thr("freq", "0.6")} AS f3, ${thr("freq", "0.8")} AS f4,
       |  ${thr("mon_cents", "0.2")} AS m1, ${thr("mon_cents", "0.4")} AS m2,
       |  ${thr("mon_cents", "0.6")} AS m3, ${thr("mon_cents", "0.8")} AS m4
       |FROM u),
       |sc AS (SELECT
       |  5 - (CAST(rec_days * 1000000 > r1 AS INT) + CAST(rec_days * 1000000 > r2 AS INT)
       |     + CAST(rec_days * 1000000 > r3 AS INT) + CAST(rec_days * 1000000 > r4 AS INT)) AS r_score,
       |  1 + (CAST(freq * 1000000 > f1 AS INT) + CAST(freq * 1000000 > f2 AS INT)
       |     + CAST(freq * 1000000 > f3 AS INT) + CAST(freq * 1000000 > f4 AS INT)) AS f_score,
       |  1 + (CAST(mon_cents * 1000000 > m1 AS INT) + CAST(mon_cents * 1000000 > m2 AS INT)
       |     + CAST(mon_cents * 1000000 > m3 AS INT) + CAST(mon_cents * 1000000 > m4 AS INT)) AS m_score,
       |  mon_cents FROM u, th)
       |SELECT CAST(r_score AS BIGINT) AS r_score, CAST(f_score AS BIGINT) AS f_score,
       |  CAST(m_score AS BIGINT) AS m_score, count(*) AS n_users,
       |  CAST(sum(mon_cents) AS BIGINT) AS mon_cents
       |FROM sc GROUP BY 1, 2, 3""".stripMargin
  }

  /** Embedding OOD scores — mirrors IvfIndex.oodScores. */
  val vsOodScore: String =
    s"""WITH $ivfCtes
       |SELECT vec_id, cluster_id, ${r6("d2")} AS ood_score
       |FROM asg ORDER BY d2 DESC, vec_id LIMIT 15""".stripMargin

  /** IVF rebalance plan — mirrors IvfIndex.rebalancePlan (integer
    * cross-multiplication compares, no division).
    */
  val vsIndexRebalance: String =
    s"""WITH $ivfCtes,
       |sz AS (SELECT cluster_id, count(*) AS n FROM asg GROUP BY 1),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS k FROM sz)
       |SELECT cluster_id, n,
       |  CASE WHEN n * k > total * 2 THEN 'split'
       |       WHEN n * k * 2 < total THEN 'merge'
       |       ELSE 'keep' END AS action
       |FROM sz, tot""".stripMargin

  /** One-row dataset card — mirrors TrainingMix.datasetCard: the
    * documents-scan statistics (tokens, integerized quality sigmoid,
    * gopher keep) aggregated once, plus the MinHash candidate-pair
    * count from the banded chain (`cand` comes from bandCtes).
    */
  val qDatasetCard: String =
    s"""WITH $bandCtes,
       |ct AS (SELECT doc_id, text, lang, $toks AS tk FROM documents),
       |cg AS (SELECT doc_id, lang, text, tk,
       |  CASE WHEN len(tk) >= 2 THEN list_transform(generate_series(1, len(tk) - 1),
       |    i -> tk[i] || ' ' || tk[i + 1]) ELSE CAST([] AS VARCHAR[]) END AS g2
       |FROM ct),
       |cq AS (SELECT doc_id, lang,
       |  CAST(len(tk) AS BIGINT) AS n_tok,
       |  CAST(floor(${r6(s"1.0 / (1.0 + exp(-(0.02 * len(tk) + 4.0 * (len(list_filter(tk, w -> w IN ($stopList))) / (1.0 * len(tk))) - 8.0 * ((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) / (1.0 * greatest(length(text), 1))) - 1.0)))")} * 1000000.0 + 0.5) AS BIGINT) AS q6,
       |  CASE WHEN
       |    (CASE WHEN len(g2) > 0 THEN ${r6("coalesce(list_max(list_transform(g2, x -> len(list_filter(g2, y -> y = x)))), 0) / (1.0 * len(g2))")} ELSE 0.0 END) <= 0.08
       |    AND ${r6("len(list_distinct(tk)) / (1.0 * len(tk))")} >= 0.42
       |    AND ${r6("list_reduce(list_transform(tk, w -> CAST(length(w) AS BIGINT)), (x, y) -> x + y) / (1.0 * len(tk))")} BETWEEN 3.0 AND 10.0
       |  THEN 1 ELSE 0 END AS keep
       |FROM cg),
       |agg AS (SELECT count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
       |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       |  CAST(sum(q6) AS BIGINT) AS sum_q6,
       |  CAST(sum(keep) AS BIGINT) AS n_keep FROM cq)
       |SELECT n_docs, n_langs, total_tokens,
       |  ${r6("sum_q6 / (1000000.0 * n_docs)")} AS mean_quality,
       |  ${r6("n_keep / (1.0 * n_docs)")} AS pct_keep,
       |  (SELECT CAST(count(*) AS BIGINT) FROM cand) AS dup_pairs
       |FROM agg""".stripMargin

  /** CUSUM changepoint — mirrors EventOps.changepoint (all-integer
    * S_d = D·prefix_d − d·total scaling).
    */
  val qChangepoint: String =
    s"""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day, ${cents("value", "100.0")} AS vc FROM events),
       |daily AS (SELECT day, CAST(sum(vc) AS BIGINT) AS rev_cents FROM e GROUP BY 1),
       |tot AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS total, count(*) AS nd FROM daily),
       |c AS (SELECT day, rev_cents,
       |  CAST(sum(rev_cents) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
       |  CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS idx FROM daily)
       |SELECT day, rev_cents, CAST(nd * cum - idx * total AS BIGINT) AS s,
       |  CAST(abs(nd * cum - idx * total) AS BIGINT) AS abs_s
       |FROM c, tot ORDER BY abs_s DESC, day LIMIT 3""".stripMargin

  /** Trained per-dim scalar quantization — mirrors
    * KnnSearch.quantizeTrained.
    */
  val vsQuantizeTrained: String =
    s"""WITH dd AS (SELECT unnest(generate_series(1, 64)) AS i),
       |st AS (SELECT i, min(embedding[i]::DOUBLE) AS mn, max(embedding[i]::DOUBLE) AS mx
       |  FROM embeddings CROSS JOIN dd GROUP BY 1),
       |ml AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM st),
       |enc AS (SELECT vec_id, embedding, mns, mxs,
       |  list_transform(generate_series(1, 64), i ->
       |    CAST(CASE WHEN mxs[i] > mns[i]
       |      THEN floor((embedding[i]::DOUBLE - mns[i]) / (mxs[i] - mns[i]) * 255 + 0.5)
       |      ELSE 0 END AS BIGINT)) AS qc
       |  FROM embeddings, ml)
       |SELECT vec_id, qc[1] AS c0, qc[2] AS c1, qc[3] AS c2, qc[4] AS c3,
       |  CAST(list_reduce(qc, (a, b) -> a + b) AS BIGINT) AS sum_code,
       |  CAST(list_reduce(list_transform(generate_series(1, 64), i ->
       |    CAST(floor((embedding[i]::DOUBLE - (mns[i] + qc[i] / 255.0 * (mxs[i] - mns[i])))
       |      * (embedding[i]::DOUBLE - (mns[i] + qc[i] / 255.0 * (mxs[i] - mns[i])))
       |      * 1000000000.0 + 0.5) AS BIGINT)), (a, b) -> a + b) AS BIGINT) AS recon_e9
       |FROM enc""".stripMargin

  /** TPC-H Q5 local-supplier revenue — mirrors Relational.q5. */
  val q5Join: String =
    s"""SELECT n_name,
       |  sum(${cents("l_extendedprice * (1.0 - l_discount)", "10000.0")}) / 10000.0 AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1997-01-01'
       |  AND o_orderdate < TIMESTAMP '1998-01-01'
       |GROUP BY 1""".stripMargin

  /** DAU/MAU stickiness — mirrors EventOps.dauMau (fan-out-30 MAU). */
  val qDauMau: String =
    s"""WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
       |cov AS (SELECT user_id, day + o AS cday
       |  FROM ud CROSS JOIN (SELECT unnest(generate_series(0, 29)) AS o) t),
       |mau AS (SELECT cday, CAST(count(DISTINCT user_id) AS BIGINT) AS mau FROM cov GROUP BY 1),
       |dau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau FROM ud GROUP BY 1)
       |SELECT day, dau, mau, ${r6("dau / (1.0 * mau)")} AS stickiness
       |FROM dau JOIN mau ON day = cday""".stripMargin

  /** Market-basket lift — mirrors Relational.basketLift. */
  val qBasketLift: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |no AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM op),
       |pc AS (SELECT l_partkey, count(*) AS n_part FROM op GROUP BY 1),
       |pr AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_ab
       |  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= 3)
       |SELECT part_a, part_b, CAST(n_ab AS BIGINT) AS n_ab,
       |  CAST(pa.n_part AS BIGINT) AS n_a, CAST(pb.n_part AS BIGINT) AS n_b,
       |  ${r6("(n_ab * n_orders) / ((1.0 * pa.n_part) * pb.n_part)")} AS lift
       |FROM pr JOIN pc pa ON part_a = pa.l_partkey JOIN pc pb ON part_b = pb.l_partkey, no
       |ORDER BY lift DESC, part_a, part_b LIMIT 15""".stripMargin

  /** Perceptual-hash payload dedup — mirrors Multimodal.phashDedup
    * (the payload is the UTF-8 text, so the stub decode is invertible
    * and the 4-byte-block SimHash is fully relational; same md5-nibble
    * vote formulation as dedupSimhash, 64-bit with 16-bit banding).
    */
  val mmPhash: String =
    s"""WITH tok AS (SELECT doc_id, unnest(list_transform(generate_series(1, (length(text) + 3) // 4),
       |    i -> substr(text, (i - 1) * 4 + 1, 4))) AS w FROM documents),
       |bb AS (SELECT unnest(generate_series(0, 63)) AS b),
       |v AS (SELECT doc_id, b,
       |  CASE WHEN CAST(floor((strpos('0123456789abcdef', substr(md5(w), CAST(floor(b / 4) AS INT) + 1, 1)) - 1)
       |      / (CASE b % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)) AS INT) % 2 = 1
       |    THEN 1 ELSE -1 END AS vt
       |  FROM tok CROSS JOIN bb),
       |sb AS (SELECT doc_id, b, sum(vt) AS s FROM v GROUP BY 1, 2),
       |sg AS (SELECT doc_id,
       |  CAST(sum(CASE WHEN s > 0 THEN
       |    (CASE WHEN b = 63 THEN (-9223372036854775807 - 1)::BIGINT
       |     ELSE (1::BIGINT << CAST(b AS INT)) END) ELSE 0 END) AS BIGINT) AS sig
       |  FROM sb GROUP BY 1),
       |blk AS (SELECT doc_id, sig, blkb AS blk, (sig >> (16 * blkb)) & 65535 AS bval
       |  FROM sg CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS blkb) blks),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b, x.sig AS sig_a, y.sig AS sig_b
       |  FROM blk x JOIN blk y ON x.blk = y.blk AND x.bval = y.bval AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 6""".stripMargin

  /** Residual IVF+PQ — mirrors PqIndex.searchIvfPqResidual: vectors
    * PQ-encode their residual from the assigned centroid; the IP score
    * decomposes as dot(q,c) + Σ_s lut(s, code_s), both integerized e9.
    */
  val vsIvfPqResidual: String =
    s"""WITH $ivfCtes,
       |subs AS (SELECT unnest(generate_series(0, 3)) AS s),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |rres AS (SELECT e.vec_id, a.cluster_id,
       |  list_transform(generate_series(1, 64), i -> e.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE) AS rvec
       |  FROM embeddings e JOIN asg a USING(vec_id) JOIN cent c USING(cluster_id)),
       |rcb AS (SELECT s, CAST(vec_id // 17 AS BIGINT) AS code,
       |  list_slice(rvec, s * 16 + 1, s * 16 + 16) AS rcvec
       |  FROM rres, subs WHERE vec_id % 17 = 0 AND vec_id < 272),
       |rsv AS (SELECT vec_id, cluster_id, s, list_slice(rvec, s * 16 + 1, s * 16 + 16) AS subvec
       |  FROM rres, subs),
       |dists AS (SELECT rsv.vec_id, rsv.s, rcb.code, ${dist2("rsv.subvec", "rcb.rcvec")} AS d2q
       |  FROM rsv JOIN rcb ON rcb.s = rsv.s),
       |asgn AS (SELECT vec_id, s, code FROM (
       |  SELECT vec_id, s, code, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2q, code) AS rn
       |  FROM dists) WHERE rn = 1),
       |lut AS (SELECT s, code, ${dot("list_slice(qv, s * 16 + 1, s * 16 + 16)", "rcvec")} AS part FROM rcb, q),
       |ap AS (SELECT a.vec_id,
       |  CAST(sum(CAST(floor(part * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS res_e9
       |  FROM asgn a JOIN lut USING(s, code) GROUP BY 1),
       |konst AS (SELECT cluster_id, ${cents(s"${dot("cvec", "qv")}", "1000000000.0")} AS const_e9 FROM cent, q),
       |probe AS (SELECT cluster_id FROM (
       |  SELECT cluster_id, ${dist2("cvec", "qv")} AS cd2 FROM cent, q)
       |  ORDER BY cd2, cluster_id LIMIT 3),
       |cand AS (SELECT r.cluster_id, ap.vec_id, konst.const_e9 + ap.res_e9 AS e9
       |  FROM ap JOIN (SELECT DISTINCT vec_id, cluster_id FROM rres) r USING(vec_id)
       |  JOIN konst USING(cluster_id)
       |  WHERE r.cluster_id IN (SELECT cluster_id FROM probe)
       |  ORDER BY e9 DESC, ap.vec_id LIMIT 50),
       |re AS (SELECT c.cluster_id, c.vec_id, c.e9, ${dot("e.embedding", "qv")} AS es
       |  FROM cand c JOIN embeddings e USING(vec_id), q)
       |SELECT cluster_id, vec_id, ${r6("e9 / 1000000000.0")} AS approx_score, ${r6("es")} AS score
       |FROM re ORDER BY es DESC, vec_id LIMIT 10""".stripMargin

  /** Moving-average forecast backtest — mirrors EventOps.forecastSma
    * (all-integer ×1e6-cents scale).
    */
  val qForecastSma: String =
    s"""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day, ${cents("value", "100.0")} AS vc FROM events),
       |daily AS (SELECT day, CAST(sum(vc) AS BIGINT) AS rev_cents FROM e GROUP BY 1),
       |wn AS (SELECT day, rev_cents,
       |  CAST(sum(rev_cents) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT) AS sum_prev,
       |  CAST(count(*) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT) AS n_prev
       |FROM daily)
       |SELECT day, rev_cents,
       |  CAST((sum_prev * 1000000) // n_prev AS BIGINT) AS forecast_e6,
       |  CAST(abs(rev_cents * 1000000 - (sum_prev * 1000000) // n_prev) AS BIGINT) AS err_e6
       |FROM wn WHERE n_prev = 7""".stripMargin

  /** Rolling median (EventOps.rollingMedian): lower-middle of the
    * sorted 7-row frame — rank-based, no interpolation, integer cents.
    */
  val qRollingMedian: String =
    s"""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day, ${cents("value", "100.0")} AS vc FROM events),
       |daily AS (SELECT day, CAST(sum(vc) AS BIGINT) AS rev_cents FROM e GROUP BY 1),
       |f AS (SELECT day, rev_cents, list_sort(list(rev_cents) OVER (
       |  ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS frame FROM daily)
       |SELECT day, rev_cents, CAST(len(frame) AS BIGINT) AS n_frame,
       |  CAST(frame[CAST((len(frame) + 1) // 2 AS INT)] AS BIGINT) AS roll_med_cents,
       |  rev_cents > frame[CAST((len(frame) + 1) // 2 AS INT)] * 2 AS spike
       |FROM f""".stripMargin

  /** Holt trend smoothing (EventOps.forecastHolt): the oracle replays
    * the sequential recursion with a recursive CTE; α=1/2 and β=1/4
    * are exact binary fractions, so the double arithmetic is
    * bit-identical to Spark's fold.
    */
  val qForecastHolt: String =
    s"""WITH RECURSIVE e AS (SELECT epoch_us(ts) // 86400000000 AS day, ${cents("value", "100.0")} AS vc FROM events),
       |daily AS (SELECT day, CAST(sum(vc) AS BIGINT) AS rev_cents FROM e GROUP BY 1),
       |dd AS (SELECT day, rev_cents,
       |  CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn FROM daily),
       |h(rn, day, y, l, b, f) AS (
       |  SELECT rn, day, CAST(rev_cents AS DOUBLE) / 100.0,
       |    CAST(rev_cents AS DOUBLE) / 100.0, CAST(0.0 AS DOUBLE), CAST(NULL AS DOUBLE)
       |  FROM dd WHERE rn = 1
       |  UNION ALL
       |  SELECT d.rn, d.day, CAST(d.rev_cents AS DOUBLE) / 100.0,
       |    0.5 * (CAST(d.rev_cents AS DOUBLE) / 100.0) + 0.5 * (h.l + h.b),
       |    0.25 * ((0.5 * (CAST(d.rev_cents AS DOUBLE) / 100.0) + 0.5 * (h.l + h.b)) - h.l) + 0.75 * h.b,
       |    h.l + h.b
       |  FROM dd d JOIN h ON d.rn = h.rn + 1)
       |SELECT day, ${r6("y")} AS actual, ${r6("f")} AS forecast,
       |  ${r6("abs(y - f)")} AS abs_err
       |FROM h WHERE rn > 1""".stripMargin

  /** Full-outer coverage — mirrors Relational.outerCoverage. */
  val qOuterJoin: String =
    s"""WITH cs AS (SELECT c_nationkey, count(*) AS n_cust FROM customer
       |  WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 8000 GROUP BY 1),
       |ss AS (SELECT s_nationkey, count(*) AS n_supp FROM supplier
       |  WHERE s_acctbal > 8000 GROUP BY 1),
       |j AS (SELECT coalesce(c_nationkey, s_nationkey) AS nationkey,
       |  CAST(coalesce(n_cust, 0) AS BIGINT) AS n_cust,
       |  CAST(coalesce(n_supp, 0) AS BIGINT) AS n_supp
       |  FROM cs FULL OUTER JOIN ss ON c_nationkey = s_nationkey)
       |SELECT n_name, n_cust, n_supp FROM j JOIN nation ON nationkey = n_nationkey""".stripMargin

  /** Unpivot — mirrors Relational.unpivotStats (stack ≡ UNION ALL). */
  val qUnpivot: String =
    s"""WITH st AS (SELECT source, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |  CAST(sum(len($toks)) AS BIGINT) AS sum_toks
       |FROM documents GROUP BY 1)
       |SELECT source, 'n_docs' AS metric, n_docs AS value FROM st
       |UNION ALL SELECT source, 'sum_chars', sum_chars FROM st
       |UNION ALL SELECT source, 'sum_toks', sum_toks FROM st""".stripMargin

  /** Activity streaks — mirrors EventOps.activityStreaks (the
    * day − row_number gaps-and-islands grouping).
    */
  val qStreaks: String =
    s"""WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
       |g AS (SELECT user_id, day,
       |  day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp FROM ud),
       |isl AS (SELECT user_id, grp, count(*) AS len FROM g GROUP BY 1, 2)
       |SELECT user_id, count(*) AS n_streaks,
       |  CAST(max(len) AS BIGINT) AS longest_streak,
       |  CAST(sum(len) AS BIGINT) AS active_days
       |FROM isl GROUP BY 1""".stripMargin

  // ---- B2. faithful newsletter parse (reference utils.py:93-187) -------

  /** python str.strip() as SQL (Spark mirror: Newsletter.pyStrip). */
  private def pyStripSql(e: String) =
    s"regexp_replace(regexp_replace($e, '^\\s+', ''), '\\s+" + "$', '')"

  /** reference trim_empty_lines (Newsletter.trimEmptyLines mirror).
    * coalesce: DuckDB's array_to_string yields NULL on an empty list
    * where Spark's array_join (and python's join) give ''.
    */
  private def trimLinesSql(e: String) =
    "coalesce(" + pyStripSql("array_to_string(list_filter(string_split(" + pyStripSql(e) +
      ", chr(10)), x -> length(" + pyStripSql("x") + ") > 0), chr(10))") + ", '')"

  /** The deterministic markdown built from a documents row — the exact
    * SQL twin of Newsletter.syntheticMd.
    */
  private val newsletterMdCte: String =
    """WITH src AS (SELECT doc_id, source,
      |  regexp_replace(lower(text), '[^a-z ]', '', 'g') AS san,
      |  CAST(DATE '2024-01-01' + CAST(doc_id % 365 AS INT) AS VARCHAR) AS dt
      |  FROM documents),
      |m AS (SELECT doc_id, dt,
      |  '# Issue ' || CAST(doc_id AS VARCHAR) || chr(10) ||
      |  '[Share this on the socials](https://share.example/' || CAST(doc_id AS VARCHAR) || ')' || chr(10) ||
      |  e'\n## 3 IDEAS FROM ME\n\nI.\n' || substr(san, 1, 80) ||
      |  e'\n\nII.\n' || substr(san, 81, 80) ||
      |  e'\n\nIII.\n' || substr(san, 161, 80) ||
      |  e'\n\n---\n\n## 2 QUOTES FROM OTHERS\n\nI.\n' || substr(san, 241, 60) ||
      |  e'\n\n*Source:* [*' || source || ' weekly*](https://src.example/' || CAST(doc_id AS VARCHAR) || e')\n\nII.\n' || substr(san, 301, 60) ||
      |  e'\n\n*Source:* the ' || source || e' archive\n\n## 1 QUESTION FOR YOU\n\n' || substr(san, 361, 60) ||
      |  e'\n\nUntil next week,\nJames\n' AS md
      |  FROM src)""".stripMargin

  val docParseMd: String = {
    val qItem = pyStripSql("split_part(" +
      pyStripSql("replace(s, '1 QUESTION FOR YOU', '')") + ", 'Until next week', 1)")
    val qBody = pyStripSql("replace(replace(" +
      "regexp_replace(regexp_replace(raw, '(?s)\\n\\*Source:\\*.*', ''), " +
      "'\\[([^\\]]+)\\]\\([^\\)]+\\)', '\\1', 'g'), '**', ''), '  ', ' ')")
    raw"""$newsletterMdCte,
       |cl AS (SELECT doc_id, dt,
       |  regexp_replace(md, '(?m)^\[Share this on.*\n?', '', 'g') AS t FROM m),
       |sec0 AS (SELECT doc_id, dt, unnest(regexp_split_to_array(t, '(?m)^##\s+')) AS s0 FROM cl),
       |sec AS (SELECT doc_id, dt, replace(s0, '---', '') AS s,
       |  CASE WHEN contains(s, '3 IDEAS FROM ME') THEN 'idea'
       |       WHEN contains(s, '2 QUOTES FROM OTHERS') THEN 'quote'
       |       WHEN contains(s, '1 QUESTION FOR YOU') THEN 'question' END AS category
       |  FROM sec0),
       |itm AS (SELECT doc_id, dt, category,
       |  CASE WHEN category = 'question' THEN [$qItem]
       |       ELSE list_slice(regexp_split_to_array(s, '[IVX]+\.'), 2, 1048576) END AS items
       |  FROM sec WHERE category IS NOT NULL),
       |ex AS (SELECT doc_id, dt, category, items,
       |  unnest(generate_series(1, len(items))) AS i FROM itm),
       |rw AS (SELECT doc_id, dt, category, CAST(i AS BIGINT) AS idx, items[i] AS raw FROM ex),
       |qf AS (SELECT *,
       |  nullif(regexp_extract(raw, '\*Source:\*\s*\[([^\]]+)\]\(([^\)]+)\)', 1), '') AS lt,
       |  nullif(regexp_extract(raw, '\*Source:\*\s*\[([^\]]+)\]\(([^\)]+)\)', 2), '') AS lu,
       |  nullif(regexp_extract(raw, '(?m)\*Source:\*\s*(.+)$$', 1), '') AS ft
       |  FROM rw),
       |qn AS (SELECT doc_id, dt, category, idx, raw,
       |  CASE WHEN category = 'quote' THEN replace(coalesce(lt, ft), '*', '') END AS source_name,
       |  CASE WHEN category = 'quote' AND lt IS NOT NULL THEN lu END AS source,
       |  CASE WHEN category = 'quote' THEN $qBody END AS qbody
       |  FROM qf)
       |SELECT doc_id, category, idx,
       |  CASE category
       |    WHEN 'idea' THEN 'Idea from James Clear: ' || ${trimLinesSql("raw")}
       |    WHEN 'quote' THEN ${trimLinesSql(
            "CASE WHEN source_name IS NOT NULL THEN 'Quote from ' || source_name || ': ' || qbody ELSE qbody END")}
       |    ELSE ${trimLinesSql("raw")}
       |  END AS text,
       |  source, source_name, dt AS date
       |FROM qn""".stripMargin
  }

  /** e'...'-escaped DuckDB string literal for replacement strings that
    * carry real newlines / backslash-digit backrefs (plain '...'
    * literals leave \n uninterpreted and RE2 then drops the whole
    * rewrite as invalid).
    */
  private def eStr(s: String): String = "e'" + s.flatMap {
    case '\\' => "\\\\"
    case '\'' => "''"
    case '\n' => "\\n"
    case c => c.toString
  } + "'"

  val docHtmlMd: String = {
    // the same fold as Newsletter.htmlToMarkdown, generated from the
    // shared HtmlMdChain so the two engines cannot drift
    val folded = graft.operators.Newsletter.HtmlMdChain.foldLeft("content") {
      case (acc, (pat, _, duckRep)) =>
        s"regexp_replace($acc, '${pat.replace("'", "''")}', ${eStr(duckRep)}, 'g')"
    }
    s"""WITH src AS (SELECT doc_id, source,
       |  regexp_replace(lower(text), '[^a-z ]', '', 'g') AS san FROM documents),
       |h AS (SELECT doc_id,
       |  '<html><body><header class="page__header"><h1>3-2-1: Issue ' || CAST(doc_id AS VARCHAR) ||
       |  '</h1></header><div class="page__content">' ||
       |  '<h2>3 IDEAS FROM ME</h2><p>I. ' || substr(san, 1, 60) ||
       |  '</p><hr><h2>2 QUOTES FROM OTHERS</h2><p>I. ' || substr(san, 61, 60) ||
       |  '</p><p><em>Source:</em> <a href="https://b.example/' || CAST(doc_id AS VARCHAR) ||
       |  '">*' || source || '*</a></p>' ||
       |  '<h2>1 QUESTION FOR YOU</h2><p>' || substr(san, 121, 60) ||
       |  '</p><p>Until next week, James</p></div></body></html>' AS html
       |  FROM src),
       |c AS (SELECT doc_id, regexp_replace(html, '\r\n?', chr(10), 'g') AS html,
       |  coalesce(
       |    nullif(regexp_extract(regexp_replace(html, '\r\n?', chr(10), 'g'), '(?s)<div class="page__content[^"]*"[^>]*>(.*?)<div class="post__next">', 1), ''),
       |    nullif(regexp_extract(regexp_replace(html, '\r\n?', chr(10), 'g'), '(?s)<div class="page__content[^"]*"[^>]*>(.*)</div>', 1), ''),
       |    regexp_replace(html, '\r\n?', chr(10), 'g')) AS content,
       |  nullif(${pyStripSql(
          "regexp_replace(regexp_extract(html, '(?s)<h1[^>]*>(.*?)</h1>', 1), '<[^>]*>', '', 'g')")}, '') AS title
       |  FROM h)
       |SELECT doc_id,
       |  regexp_extract(html, '(?s)<h1[^>]*>(.*?)</h1>', 1) AS title,
       |  md5(${pyStripSql(
          "(CASE WHEN title IS NOT NULL THEN '# ' || title || chr(10) || chr(10) ELSE '' END) || " +
            pyStripSql(folded))}) AS md_hash
       |FROM c""".stripMargin
  }

  /** The composed end-to-end pipeline (Pipeline.run): the per-doc keep
    * decision = quality ∧ langid ∧ gopher ∧ not-dropped ∧ mix-kept
    * (each stage the same SQL its standalone graded query uses), then
    * token-budget shard packing over the survivors.
    */
  val pipelineE2e: String =
    s"""WITH pt AS (SELECT doc_id, text, source, lang, $toks AS tk FROM documents),
       |pq AS (SELECT doc_id,
       |  CAST(len(tk) AS BIGINT) AS n_toks,
       |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
       |  CAST(len(list_filter(tk, w -> w IN ($stopList))) AS BIGINT) AS n_stop,
       |  CAST(length(text) AS BIGINT) AS n_chars_t
       |FROM pt),
       |pquality AS (SELECT doc_id, n_toks,
       |  ${r6("1.0 / (1.0 + exp(-(0.02 * n_toks + 4.0 * (n_stop / (1.0 * n_toks)) - 8.0 * (n_punct / (1.0 * greatest(n_chars_t, 1))) - 1.0)))")} AS quality
       |FROM pq),
       |pm(cand, word) AS (VALUES $markerValues),
       |plangs AS (SELECT DISTINCT cand FROM pm),
       |pd AS (SELECT doc_id, unnest(tk) AS word FROM pt),
       |ph AS (SELECT doc_id, cand, count(*) AS score FROM pd JOIN pm USING(word) GROUP BY 1, 2),
       |psc AS (SELECT doc_id, lang, cand, coalesce(score, 0) AS score
       |  FROM (SELECT doc_id, lang FROM documents) CROSS JOIN plangs LEFT JOIN ph USING(doc_id, cand)),
       |pbest AS (SELECT doc_id, lang, cand AS pred_lang FROM (
       |  SELECT doc_id, lang, cand,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rn FROM psc)
       |  WHERE rn = 1),
       |pg AS (SELECT doc_id, keep AS gkeep FROM ($textGopher)),
       |pmix AS (SELECT doc_id,
       |  CASE WHEN substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 8) <
       |    (CASE (CAST(substr(source, 4) AS INT) % 4) WHEN 0 THEN '40000000'
       |      WHEN 1 THEN '80000000' WHEN 2 THEN 'c0000000' ELSE 'zzzzzzzz' END)
       |  THEN 1 ELSE 0 END AS mkept FROM documents),
       |pdrops AS (SELECT drop_doc FROM ($dedupDrop)),
       |pkd AS (SELECT pt.doc_id, pt.source, pquality.n_toks,
       |  CASE WHEN pquality.quality >= (0.4)::DOUBLE AND pbest.pred_lang = pbest.lang
       |    AND pg.gkeep = 1 AND pdrops.drop_doc IS NULL AND pmix.mkept = 1
       |  THEN 1 ELSE 0 END AS kept
       |  FROM pt
       |  JOIN pquality USING(doc_id)
       |  JOIN pbest USING(doc_id)
       |  JOIN pg USING(doc_id)
       |  JOIN pmix USING(doc_id)
       |  LEFT JOIN pdrops ON pt.doc_id = pdrops.drop_doc),
       |pc AS (SELECT doc_id, source, n_toks,
       |  coalesce(sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM pkd WHERE kept = 1)
       |SELECT source, CAST(floor(cum_before / (2048.0)::DOUBLE) AS BIGINT) AS shard,
       |  count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM pc GROUP BY 1, 2""".stripMargin

  /** Sketch queries, graded on their exact columns: the estimate rides
    * as a within-tolerance boolean that the oracle pins to TRUE — an
    * out-of-bound sketch now fails the gate instead of going unchecked.
    */
  val qApproxDistinct: String =
    """SELECT l_returnflag,
      |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
      |  count(*) AS n, TRUE AS within_bound
      |FROM lineitem GROUP BY 1""".stripMargin

  val qApproxQuantile: String =
    s"""SELECT l_returnflag,
       |  ${r6("quantile_cont(l_extendedprice, 0.5)")} AS exact_p50,
       |  ${r6("quantile_cont(l_extendedprice, 0.99)")} AS exact_p99,
       |  TRUE AS within_bound
       |FROM lineitem GROUP BY 1""".stripMargin

  /** Concurrency (EventOps.concurrency): sessionize (the
    * qEventsSessionize CTEs), then each session fans out to the hour
    * buckets it spans via generate_series.
    */
  val qConcurrency: String =
    s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
       |l AS (SELECT user_id, event_id, us,
       |  lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev FROM e),
       |n AS (SELECT user_id, event_id, us,
       |  CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS is_new FROM l),
       |s AS (SELECT user_id, us,
       |  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM n),
       |sess AS (SELECT user_id, session_id,
       |  min(us) // 3600000000 AS h0, max(us) // 3600000000 AS h1
       |  FROM s GROUP BY 1, 2),
       |x AS (SELECT h0, unnest(generate_series(h0, h1)) AS hour_id FROM sess)
       |SELECT hour_id, count(*) AS active_sessions,
       |  CAST(sum(CASE WHEN h0 = hour_id THEN 1 ELSE 0 END) AS BIGINT) AS started_sessions
       |FROM x GROUP BY 1""".stripMargin

  /** Decayed LTV (EventOps.decayLtv): per-row contribution integerized
    * to 1e-6 BEFORE the sum, mirroring the Spark order-independent
    * bigint sum exactly.
    */
  val qDecayLtv: String =
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events
       |  WHERE event_type = 'purchase'),
       |a AS (SELECT max(us) AS ref_us FROM e)
       |SELECT user_id, count(*) AS n_purchases,
       |  ${r6(s"sum(${cents("value", "100.0")}) / 100.0")} AS raw_value,
       |  ${r6(s"sum(${cents("value * pow(0.5, ((ref_us - us) / 86400000000.0) / 30.0)", "1000000.0")}) / 1000000.0")} AS decayed_value
       |FROM e, a GROUP BY user_id""".stripMargin

  /** Duplicate-line profile (TextAnalysis.dupLines): unnest trimmed
    * non-empty lines, per-line counts, count- and char-weighted dup
    * fractions.
    */
  val textDupLines: String =
    s"""WITH t AS (SELECT doc_id, list_filter(
       |    list_transform(string_split(text, chr(10)), l -> trim(l)),
       |    l -> len(l) > 0) AS lines FROM documents),
       |g AS (SELECT doc_id, unnest(lines) AS line FROM t),
       |c AS (SELECT doc_id, line, count(*) AS c, length(line) AS l
       |  FROM g GROUP BY 1, 2),
       |a AS (SELECT doc_id,
       |  sum(CASE WHEN c >= 2 THEN c ELSE 0 END) / (1.0 * sum(c)) AS fc,
       |  sum(CASE WHEN c >= 2 THEN c * l ELSE 0 END) / (1.0 * sum(c * l)) AS fl
       |  FROM c GROUP BY 1)
       |SELECT t.doc_id, CAST(len(t.lines) AS BIGINT) AS n_lines,
       |  ${r6("COALESCE(a.fc, 0)")} AS dup_line_frac,
       |  ${r6("COALESCE(a.fl, 0)")} AS dup_char_frac,
       |  CAST(CASE WHEN ${r6("COALESCE(a.fc, 0)")} <= 0.30
       |    AND ${r6("COALESCE(a.fl, 0)")} <= 0.20 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM t LEFT JOIN a ON a.doc_id = t.doc_id""".stripMargin

  /** PMI collocations (TextAnalysis.pmi): bigram/unigram counts off the
    * same tokenization, identical division order inside the ln.
    */
  val textPmi: String =
    s"""WITH d AS (SELECT doc_id, $toks AS tk FROM documents),
       |u AS (SELECT unnest(tk) AS tok FROM d),
       |cu AS (SELECT tok, count(*) AS cu FROM u GROUP BY 1),
       |bg0 AS (SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
       |    i -> tk[i] || ' ' || tk[i + 1])) AS bg FROM d WHERE len(tk) >= 2),
       |cb AS (SELECT bg, count(*) AS cbg FROM bg0 GROUP BY 1),
       |t AS (SELECT (SELECT sum(cu) FROM cu) AS nu, (SELECT sum(cbg) FROM cb) AS nb),
       |j AS (SELECT cb.bg, cb.cbg, ua.cu AS ca, ub.cu AS cb2,
       |    ${r6("ln((cb.cbg / (1.0 * t.nb)) / ((ua.cu / (1.0 * t.nu)) * (ub.cu / (1.0 * t.nu))))")} AS pmi
       |  FROM cb, t
       |  JOIN cu ua ON ua.tok = split_part(cb.bg, ' ', 1)
       |  JOIN cu ub ON ub.tok = split_part(cb.bg, ' ', 2)
       |  WHERE cb.cbg >= 20)
       |SELECT bg, cbg, ca, cb2 AS cb, pmi FROM j
       |ORDER BY pmi DESC, bg ASC LIMIT 30""".stripMargin

  /** Weighted sample (TrainingMix.weightedSample): the LCG mix runs
    * verbatim; output is the integer rank, no float in the result.
    */
  val qWeightedSample: String =
    s"""WITH h AS (SELECT doc_id, source, n_chars,
       |  ((doc_id * 2654435761 + 40503) % 4294967296) AS h1 FROM documents),
       |k AS (SELECT doc_id, source, n_chars,
       |  ((h1 * 1103515245 + 11) % 4294967296) AS h2 FROM h),
       |p AS (SELECT doc_id, source, n_chars,
       |  ln((h2 + 0.5) / 4294967296.0) / greatest(n_chars, 1) AS pri FROM k),
       |r AS (SELECT doc_id, source, n_chars,
       |  CAST(row_number() OVER (PARTITION BY source ORDER BY pri DESC, doc_id ASC)
       |    AS BIGINT) AS rk FROM p)
       |SELECT doc_id, source, n_chars, rk FROM r WHERE rk <= 50""".stripMargin

  /** Gini / Lorenz concentration (EventOps.gini): the oracle ranks with
    * a plain global row_number (fine in DuckDB); Spark reproduces the
    * same (t, user_id) rank distributed via range buckets. Per-row
    * rank·value contributions integerized to 1e-9 before the sum.
    */
  val qGini: String =
    s"""WITH t AS (SELECT user_id,
       |  sum(${cents("value", "100.0")}) AS t
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |st AS (SELECT count(*) AS n, sum(t) AS s FROM t),
       |r AS (SELECT t, user_id,
       |  CAST(row_number() OVER (ORDER BY t ASC, user_id ASC) AS BIGINT) AS rank FROM t),
       |x AS (SELECT rank, t,
       |  ${cents("(rank / (1.0 * n)) * (t / (1.0 * s))", "1000000000.0")} AS term_e9,
       |  rank > n - n // 10 AS top10, rank > n - n // 100 AS top1
       |  FROM r, st)
       |SELECT n AS n_users, ${r6("s / 100.0")} AS total_value,
       |  ${r6("2.0 * (sum(term_e9) / 1000000000.0) - (n + 1) / (1.0 * n)")} AS gini,
       |  ${r6("sum(CASE WHEN top10 THEN t ELSE 0 END) / (1.0 * s)")} AS top10_share,
       |  ${r6("sum(CASE WHEN top1 THEN t ELSE 0 END) / (1.0 * s)")} AS top1_share
       |FROM x, st GROUP BY n, s""".stripMargin

  /** Lorenz decile table (EventOps.lorenz): plain global row_number in
    * the oracle vs Spark's distributed rank; decile by integer
    * ((rank-1)*10)//n so both engines bucket identically.
    */
  val qLorenz: String =
    s"""WITH t AS (SELECT user_id,
       |  sum(${cents("value", "100.0")}) AS t
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |st AS (SELECT count(*) AS n, sum(t) AS s FROM t),
       |r AS (SELECT t, user_id,
       |  CAST(row_number() OVER (ORDER BY t ASC, user_id ASC) AS BIGINT) AS rank FROM t),
       |d AS (SELECT ((rank - 1) * 10) // n AS decile, t FROM r, st),
       |g AS (SELECT decile, count(*) AS n_users, sum(t) AS tv FROM d GROUP BY 1)
       |SELECT decile, n_users, ${r6("tv / 100.0")} AS value,
       |  ${r6("tv / (1.0 * s)")} AS share,
       |  ${r6("(sum(tv) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) / (1.0 * s)")} AS cum_share
       |FROM g, st ORDER BY decile""".stripMargin

  /** Robust MAD outliers (EventOps.madOutliers): exact percentile ↔
    * quantile_cont (the q_percentiles parity precedent); the modified-z
    * threshold compares identical double expressions in both engines.
    */
  val qMadOutliers: String =
    s"""WITH e AS (SELECT event_type, value FROM events),
       |m AS (SELECT event_type, quantile_cont(value, 0.5) AS med FROM e GROUP BY 1),
       |d AS (SELECT e.event_type, value, med FROM e JOIN m USING (event_type)),
       |md AS (SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
       |  FROM d GROUP BY 1),
       |x AS (SELECT d.event_type, value, med, mad FROM d JOIN md USING (event_type))
       |SELECT event_type, ${r6("min(med)")} AS med_value,
       |  ${r6("min(mad)")} AS mad_value,
       |  CAST(sum(CASE WHEN mad > 0 AND abs(0.6745 * (value - med) / mad) > 3.5
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       |  ${r6("max(CASE WHEN mad > 0 THEN abs(0.6745 * (value - med) / mad) END)")} AS max_abs_rz
       |FROM x GROUP BY 1 ORDER BY 1""".stripMargin

  /** Audience-overlap matrix (EventOps.userOverlap): the oracle's
    * self-join on (user, type<type) distinct pairs is the relational
    * twin of Spark's in-array pair combinatorics.
    */
  val qUserOverlap: String =
    s"""WITH ts AS (SELECT DISTINCT user_id, event_type FROM events),
       |tot AS (SELECT event_type, count(*) AS u FROM ts GROUP BY 1),
       |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
       |  count(*) AS users_both
       |  FROM ts a JOIN ts b
       |    ON a.user_id = b.user_id AND a.event_type < b.event_type
       |  GROUP BY 1, 2)
       |SELECT type_a, type_b, ta.u AS users_a, tb.u AS users_b, users_both,
       |  ${r6("users_both / (1.0 * (ta.u + tb.u - users_both))")} AS jaccard
       |FROM p JOIN tot ta ON ta.event_type = type_a
       |JOIN tot tb ON tb.event_type = type_b""".stripMargin

  /** Per-doc n-gram novelty (TextAnalysis.novelty): first appearance =
    * min(doc_id) per shingle, joined back — the relational twin of the
    * shingle-partitioned window min.
    */
  val textNovelty: String =
    s"""WITH $shingleCte,
       |f AS (SELECT shingle, min(doc_id) AS fd FROM sh GROUP BY 1)
       |SELECT sh.doc_id, count(*) AS n_grams,
       |  CAST(sum(CASE WHEN f.fd = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |  ${r6("sum(CASE WHEN f.fd = sh.doc_id THEN 1 ELSE 0 END) / (1.0 * count(*))")} AS novelty
       |FROM sh JOIN f ON f.shingle = sh.shingle GROUP BY 1""".stripMargin

  /** Heaps'-law vocabulary growth (TextAnalysis.heaps): bucket id is
    * integer doc_id·20/(max+1) in both engines; fit mirrors textZipf's
    * integerized least squares.
    */
  val textHeaps: String =
    s"""WITH mx AS (SELECT max(doc_id) AS mxd FROM documents),
       |tok AS (SELECT (doc_id * 20) // (mxd + 1) AS bkt, u.tok AS tok
       |  FROM documents, mx, unnest($toks) AS u(tok)),
       |tpb AS (SELECT bkt, count(*) AS nt FROM tok GROUP BY 1),
       |ntb AS (SELECT fb AS bkt, count(*) AS nv FROM
       |  (SELECT tok, min(bkt) AS fb FROM tok GROUP BY 1) GROUP BY 1),
       |curve AS (SELECT tpb.bkt AS bkt, nt, coalesce(nv, 0) AS nv
       |  FROM tpb LEFT JOIN ntb ON tpb.bkt = ntb.bkt),
       |c2 AS (SELECT bkt,
       |  CAST(sum(nt) OVER (ORDER BY bkt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
       |  CAST(sum(nv) OVER (ORDER BY bkt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_types
       |  FROM curve),
       |c3 AS (SELECT bkt, cum_tokens, cum_types,
       |  ${cents("ln(cum_tokens)", "1000000.0")} AS x6,
       |  ${cents("ln(cum_types)", "1000000.0")} AS y6 FROM c2),
       |agg AS (SELECT count(*) AS n, sum(x6) AS sx, sum(y6) AS sy,
       |  sum(${cents("(x6/1000000.0) * (y6/1000000.0)", "1000000.0")}) AS sxy,
       |  sum(${cents("(x6/1000000.0) * (x6/1000000.0)", "1000000.0")}) AS sxx
       |  FROM c3)
       |SELECT bkt, cum_tokens, cum_types,
       |  CASE WHEN n >= 2 THEN ${r6("(n * (sxy/1000000.0) - (sx/1000000.0)*(sy/1000000.0)) / (n * (sxx/1000000.0) - (sx/1000000.0)*(sx/1000000.0))")} END AS heaps_beta,
       |  CASE WHEN n >= 2 THEN ${r6("((sy/1000000.0) - ((n * (sxy/1000000.0) - (sx/1000000.0)*(sy/1000000.0)) / (n * (sxx/1000000.0) - (sx/1000000.0)*(sx/1000000.0))) * (sx/1000000.0)) / n")} END AS heaps_lnk
       |FROM c3, agg ORDER BY bkt""".stripMargin

  /** name → oracle SQL for every SQL-expressible query. */
  val all: Map[String, String] = Map(
    "doc_parse_md" -> docParseMd,
    "doc_html_md" -> docHtmlMd,
    "q_approx_distinct" -> qApproxDistinct,
    "q_approx_quantile" -> qApproxQuantile,
    "pipeline_e2e" -> pipelineE2e,
    "q1_agg" -> q1Agg,
    "q3_join" -> q3Join,
    "q_window" -> qWindow,
    "q_topn_group" -> qTopnGroup,
    "q_rollup" -> qRollup,
    "q_semi_anti" -> qSemiAnti,
    "q_cube" -> qCube,
    "q_setops" -> qSetops,
    "q_corr" -> qCorr,
    "q_fuzzy" -> qFuzzy,
    "q_conditional_agg" -> qConditionalAgg,
    "q_percentiles" -> qPercentiles,
    "q_events_sessionize" -> qEventsSessionize,
    "q_events_funnel" -> qEventsFunnel,
    "q_events_attribution" -> qEventsAttribution,
    "q_events_retention" -> qEventsRetention,
    "q_json" -> qJson,
    "doc_chunk" -> docChunk,
    "doc_parse" -> docParse,
    "doc_clean" -> docClean,
    "doc_stats" -> docStats,
    "text_langid" -> textLangid,
    "text_quality" -> textQuality,
    "text_tokens" -> textTokens,
    "text_fingerprint" -> textFingerprint,
    "text_heavy_hitters" -> textHeavyHitters,
    "text_sample_bottomk" -> textSampleBottomk,
    "dedup_drop" -> dedupDrop,
    "vs_norm" -> vsNorm,
    "vs_quantize" -> vsQuantize,
    "vs_lsh_ann" -> vsLshAnn,
    "vs_pq" -> vsPq,
    "vs_pq_rerank" -> vsPqRerank,
    "vs_knn_topk" -> vsKnnTopk,
    "vs_knn_join" -> vsKnnJoin,
    "vs_range_search" -> vsRangeSearch,
    "vs_rerank" -> vsRerank,
    "vs_filtered_search" -> vsFilteredSearch,
    "vs_filtered_date" -> vsFilteredDate,
    "vs_centroids" -> vsCentroids,
    "vs_ivf_ann" -> vsIvfAnn,
    "vs_ivf_kmeans" -> vsIvfKmeans,
    "dedup_exact" -> dedupExact,
    "dedup_minhash" -> dedupMinhash,
    "dedup_ngram" -> dedupNgram,
    "dedup_simhash" -> dedupSimhash,
    "dedup_components" -> dedupComponents,
    "dedup_embed" -> dedupEmbed,
    "vs_bm25" -> vsBm25,
    // the persisted posting-index serving path must reproduce the brute
    // scorer exactly (r12, the vs_ivfpq_residual_idx shared-oracle
    // precedent) — same SQL, hash-enforced per round
    "vs_bm25_idx" -> vsBm25,
    "vs_hybrid_rrf" -> vsHybridRrf,
    "vs_hybrid_idx" -> vsHybridRrf,
    "vs_search_many" -> vsSearchMany,
    "vs_search_many_hybrid" -> vsSearchManyHybrid,
    "q_pack_bpe" -> qPackBpe,
    "text_pii" -> textPii,
    "q_pack_sequences" -> qPackSequences,
    "q_mix_weighted" -> qMixWeighted,
    "doc_chunk_cdc" -> docChunkCdc,
    "pipeline_filter" -> pipelineFilter,
    "q_window_range" -> qWindowRange,
    "q_pivot" -> qPivot,
    "vs_ivf_batch" -> vsIvfBatch,
    "q_grouping_sets" -> qGroupingSets,
    "vs_ivf_recall" -> vsIvfRecall,
    "vs_ndcg" -> vsNdcg,
    "vs_lsh_ndcg" -> vsLshNdcg,
    "vs_pq_recall" -> vsPqRecall,
    "dedup_report" -> dedupReport,
    "dedup_sweep" -> dedupSweep,
    "vs_quantized_search" -> vsQuantizedSearch,
    "vs_binary_search" -> vsBinarySearch,
    "vs_matryoshka" -> vsMatryoshka,
    "text_tfidf" -> textTfidf,
    "text_lm_score" -> textLmScore,
    "text_dsir" -> textDsir,
    "text_ppl_buckets" -> textPplBuckets,
    "q_shard_shuffle" -> qShardShuffle,
    "text_contamination" -> textContamination,
    "q_anomaly" -> qAnomaly,
    "q_events_path" -> qEventsPath,
    "vs_ivf_pq" -> vsIvfPq,
    "q_pagerank" -> qPagerank,
    "q_hits" -> qHits,
    "vs_mmr" -> vsMmr,
    "vs_multivec" -> vsMultivec,
    "q_range_join" -> qRangeJoin,
    "vs_drift" -> vsDrift,
    "vs_knn_classify" -> vsKnnClassify,
    "q_histogram" -> qHistogram,
    "q_minhash_est" -> qMinhashEst,
    "vs_rocchio" -> vsRocchio,
    "text_gopher" -> textGopher,
    "dedup_substring" -> dedupSubstring,
    "q_events_ab" -> qEventsAb,
    "q_events_markov" -> qEventsMarkov,
    "vs_cluster_purity" -> vsClusterPurity,
    "text_entropy" -> textEntropy,
    "text_bigram_lm" -> textBigramLm,
    "q_funnel_windowed" -> qFunnelWindowed,
    "q_skew_agg" -> qSkewAgg,
    "q_rfm" -> qRfm,
    "vs_ood_score" -> vsOodScore,
    "vs_index_rebalance" -> vsIndexRebalance,
    "q_dataset_card" -> qDatasetCard,
    "q_changepoint" -> qChangepoint,
    "vs_quantize_trained" -> vsQuantizeTrained,
    "q5_join" -> q5Join,
    "q_dau_mau" -> qDauMau,
    "q_basket_lift" -> qBasketLift,
    "mm_phash" -> mmPhash,
    "vs_ivfpq_residual" -> vsIvfPqResidual,
    // the persisted-path twin serves bit-identical results by
    // construction (shared native encode loops), so it shares the oracle
    "vs_ivfpq_residual_idx" -> vsIvfPqResidual,
    "q_forecast_sma" -> qForecastSma,
    "q_rolling_median" -> qRollingMedian,
    "q_outer_join" -> qOuterJoin,
    "q_unpivot" -> qUnpivot,
    "q_streaks" -> qStreaks,
    "q_asof_join" -> qAsofJoin,
    "q_gapfill" -> qGapfill,
    "text_repetition" -> textRepetition,
    "text_readability" -> textReadability,
    "q_stratified_sample" -> qStratifiedSample,
    "q_scd2" -> qScd2,
    "q_triangles" -> qTriangles,
    "q_bfs_hops" -> qBfsHops,
    "q_common_neighbors" -> qCommonNeighbors,
    "q_label_prop" -> qLabelProp,
    "q_skyline" -> qSkyline,
    "q_decile_lift" -> qDecileLift,
    "q_survival" -> qSurvival,
    "dedup_containment" -> dedupContainment,
    "dedup_incremental" -> dedupIncremental,
    "dedup_drop_incremental" -> dedupDropIncremental,
    "q_profile" -> qProfile,
    "q_bootstrap_ci" -> qBootstrapCi,
    "q_event_ngrams" -> qEventNgrams,
    "q_lag_features" -> qLagFeatures,
    "q_benford" -> qBenford,
    "text_zipf" -> textZipf,
    "vs_pca_iter" -> vsPcaIter,
    "mm_frames" -> mmFrames,
    "mm_resize" -> mmResize,
    "q_concurrency" -> qConcurrency,
    "q_decay_ltv" -> qDecayLtv,
    "text_dup_lines" -> textDupLines,
    "text_pmi" -> textPmi,
    "q_weighted_sample" -> qWeightedSample,
    "q_gini" -> qGini,
    "q_lorenz" -> qLorenz,
    "text_heaps" -> textHeaps,
    "q_user_overlap" -> qUserOverlap,
    "text_novelty" -> textNovelty,
    "q_mad_outliers" -> qMadOutliers,
    "vs_lsh_recall" -> vsLshRecall,
    "q_forecast_holt" -> qForecastHolt,
    "q_degree_dist" -> qDegreeDist,
    "q_kcore" -> qKcore,
    "q_new_returning" -> qNewReturning,
    "q_ship_delay" -> qShipDelay,
    "q_seasonal_dow" -> qSeasonalDow,
    "q_funnel_time" -> qFunnelTime,
    "text_length_profile" -> textLengthProfile,
    "vs_dim_variance" -> vsDimVariance,
    "q_repeat_purchase" -> qRepeatPurchase,
    "text_vocab_overlap" -> textVocabOverlap,
    "q_cohort_ltv" -> qCohortLtv,
    "text_js_divergence" -> textJsDivergence,
    "mm_energy" -> mmEnergy,
    "mm_wav" -> mmWav,
    "mm_bmp" -> mmBmp,
    "mm_bmp_resample" -> mmBmpResample,
    "text_bpe_tokens" -> textBpeTokens,
    "text_bpe_ids" -> textBpeIds,
    "text_hapax" -> textHapax,
  )
}
