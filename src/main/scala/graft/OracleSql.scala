package graft

/** DuckDB oracle SQL for [[SparkEntry.queries]].
  *
  * Exactness contract with the Spark plans:
  *  - epoch seconds via exact integer division (`epoch_ns // 1e9` here,
  *    `ts div 1000000000` in Spark);
  *  - money sums accumulate in DECIMAL and cast back to double;
  *  - ratios are double divisions of exact integer counts in the same order;
  *  - vector math mirrors the same left-to-right sequential fold in double;
  *  - every query ORDER BYs a deterministic key set.
  */
object OracleSql {

  private val T0 = 1704412800L
  private val T1 = 1705017599L
  private val tsS = "(epoch_ns(ts) // 1000000000)"

  private val tsdbRangeScan =
    s"""SELECT CAST(user_id AS BIGINT) AS user_id, $tsS AS ts_s, value
       |FROM events
       |WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |ORDER BY user_id, ts_s, value""".stripMargin

  private val tsdbRangeRegex =
    s"""SELECT CAST(user_id AS BIGINT) AS user_id, $tsS AS ts_s, value
       |FROM events
       |WHERE event_type = 'purchase'
       |  AND regexp_full_match(CAST(user_id AS VARCHAR), '(?:1.*)')
       |  AND $tsS BETWEEN $T0 AND $T1
       |ORDER BY user_id, ts_s, value""".stripMargin

  /** Negative matchers: `user_id != '7' AND user_id !~ '1.*'`. The label is
    * always present on these series, so Prometheus absent-label semantics
    * reduce to plain negation.
    */
  private val tsdbRangeNeq =
    s"""SELECT CAST(user_id AS BIGINT) AS user_id, $tsS AS ts_s, value
       |FROM events
       |WHERE event_type = 'click'
       |  AND CAST(user_id AS VARCHAR) <> '7'
       |  AND NOT regexp_full_match(CAST(user_id AS VARCHAR), '(?:1.*)')
       |  AND $tsS BETWEEN $T0 AND $T1
       |ORDER BY user_id, ts_s, value""".stripMargin

  private val tsdbSeries =
    s"""WITH sm AS (
       |  SELECT event_type, user_id,
       |         min($tsS) AS mn, max($tsS) AS mx
       |  FROM events GROUP BY 1, 2)
       |SELECT event_type, user_id FROM sm
       |WHERE mn <= $T1 AND mx >= $T0
       |  AND regexp_full_match(event_type, '(?:click|view)')
       |ORDER BY event_type, user_id""".stripMargin

  private val tsdbLabelValues =
    s"""SELECT DISTINCT CAST(user_id AS VARCHAR) AS value
       |FROM events WHERE $tsS BETWEEN $T0 AND $T1
       |ORDER BY value""".stripMargin

  /** Default-path mirror — the reference's segment-grain range semantics
    * (tsdb.go:352-360 / label.go:62-77): a user_id is returned iff some
    * sample carries it inside a 7200 s segment overlapping the window —
    * NOT per-sample membership (exact) and NOT series-span overlap. */
  private val tsdbLabelValuesMeta =
    s"""SELECT DISTINCT CAST(user_id AS VARCHAR) AS value
       |FROM events
       |WHERE $tsS // 7200 BETWEEN ${T0 / 7200} AND ${(T0 + 2 * 86400) / 7200}
       |ORDER BY value""".stripMargin

  /** Label-names mirror: the attached store folds the metric as
    * `__name__` and every events row carries exactly one label
    * (user_id), so the window's name universe is {__name__, user_id}
    * wherever the window's segments hold any data — the EXISTS makes the
    * oracle data-dependent, not a constant. */
  private val tsdbLabelNames =
    s"""SELECT name FROM (VALUES ('__name__'), ('user_id')) t(name)
       |WHERE EXISTS (SELECT 1 FROM events
       |  WHERE $tsS // 7200
       |    BETWEEN ${T0 / 7200} AND ${(T0 + 2 * 86400) / 7200})
       |ORDER BY name""".stripMargin

  private val tsdbAggBy =
    s"""SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |       $tsS - ($tsS % 3600) AS bucket_start,
       |       count(*) AS n,
       |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
       |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_v,
       |       min(value) AS min_v, max(value) AS max_v
       |FROM events
       |WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val tsdbAggIncrease =
    s"""WITH e AS (
       |  SELECT user_id, CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1),
       |d AS (
       |  SELECT *, lag(v) OVER (PARTITION BY user_id
       |                         ORDER BY ts_s, v) AS prev
       |  FROM e),
       |x AS (
       |  SELECT cohort, ts_s - (ts_s % 3600) AS bucket_start,
       |         CASE WHEN prev IS NULL THEN NULL
       |              WHEN v >= prev THEN v - prev
       |              ELSE v END AS delta
       |  FROM d)
       |SELECT cohort, bucket_start,
       |       CAST(SUM(delta) AS DOUBLE) AS increase,
       |       round(CAST(SUM(delta) AS DOUBLE) / 3600, 6) AS rate_per_sec
       |FROM x WHERE delta IS NOT NULL
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val bucketAggCore =
    s"""SELECT event_type,
       |       $tsS - ($tsS % 3600) AS bucket_start,
       |       count(*) AS n,
       |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
       |       min(value) AS min_v, max(value) AS max_v
       |FROM events GROUP BY 1, 2""".stripMargin

  private val tsdbBucketAgg =
    s"""$bucketAggCore
       |ORDER BY event_type, bucket_start""".stripMargin

  private val tsdbDelta =
    s"""WITH b AS ($bucketAggCore)
       |SELECT event_type, bucket_start, delta FROM (
       |  SELECT event_type, bucket_start,
       |         sum_v - lag(sum_v) OVER (PARTITION BY event_type
       |                                  ORDER BY bucket_start) AS delta
       |  FROM b)
       |WHERE delta IS NOT NULL
       |ORDER BY event_type, bucket_start""".stripMargin

  private val q1Agg =
    """SELECT l_returnflag, l_linestatus,
      |       SUM(l_quantity) AS sum_qty,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
      |       SUM(l_quantity) / COUNT(*) AS avg_qty,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      |       CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
      |       COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  private val q3Topk =
    """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
      |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
      |GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  private val q5RegionRevenue =
    """SELECT n_name,
      |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  private val qPromoRevenue =
    """SELECT p_brand,
      |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |       count(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  private val qSemiJoin =
    """SELECT s_suppkey, s_name FROM supplier
      |WHERE EXISTS (
      |  SELECT 1 FROM lineitem
      |  WHERE l_suppkey = s_suppkey
      |    AND l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '2000-01-01 00:00:00')
      |ORDER BY s_suppkey""".stripMargin

  private val qAntiJoin =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey
      |    AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00')
      |ORDER BY c_custkey""".stripMargin

  private val qWindowTopn =
    """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin

  private val qSetOps =
    """SELECT o_custkey FROM (
      |  (SELECT DISTINCT o_custkey FROM orders
      |   WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |     AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |   INTERSECT
      |   SELECT DISTINCT o_custkey FROM orders
      |   WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      |     AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00')
      |  EXCEPT
      |  SELECT DISTINCT o_custkey FROM orders
      |  WHERE o_orderstatus = 'F'
      |    AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00') t
      |ORDER BY o_custkey""".stripMargin

  private val qAsofJoin =
    s"""SELECT c.user_id AS user_id, c.event_id AS event_id,
       |       (epoch_ns(c.ts) // 1000000000) AS ts_s,
       |       (epoch_ns(p.ts) // 1000000000) AS p_ts_s,
       |       p.value AS p_value
       |FROM (SELECT * FROM events WHERE event_type = 'click') c
       |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
       |  ON c.user_id = p.user_id AND c.ts >= p.ts
       |ORDER BY user_id, event_id""".stripMargin

  private val qAsofForward =
    s"""SELECT c.user_id AS user_id, c.event_id AS event_id,
       |       (epoch_ns(c.ts) // 1000000000) AS ts_s,
       |       (epoch_ns(p.ts) // 1000000000) AS p_ts_s,
       |       p.value AS p_value
       |FROM (SELECT * FROM events WHERE event_type = 'click') c
       |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
       |  ON c.user_id = p.user_id AND c.ts <= p.ts
       |ORDER BY user_id, event_id""".stripMargin

  private val qRangeJoin =
    s"""WITH p AS (
       |  SELECT user_id, event_id, $tsS AS ts_s
       |  FROM events WHERE event_type = 'purchase'),
       |c AS (
       |  SELECT user_id, $tsS AS c_ts
       |  FROM events WHERE event_type = 'click')
       |SELECT p.user_id AS user_id, p.event_id AS event_id, p.ts_s AS ts_s,
       |       (SELECT count(*) FROM c
       |        WHERE c.user_id = p.user_id
       |          AND c.c_ts >= p.ts_s - 3600 AND c.c_ts < p.ts_s) AS n_clicks
       |FROM p ORDER BY user_id, event_id""".stripMargin

  private val qSessionize =
    s"""WITH e AS (
       |  SELECT user_id, event_id, $tsS AS ts_s, value FROM events),
       |f AS (
       |  SELECT *, CASE WHEN lag(ts_s) OVER w IS NULL THEN 1
       |                 WHEN ts_s - lag(ts_s) OVER w > 1800 THEN 1
       |                 ELSE 0 END AS new_s
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
       |g AS (
       |  SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id
       |                                  ORDER BY ts_s, event_id
       |                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |            AS session_seq
       |  FROM f)
       |SELECT user_id, session_seq,
       |       min(ts_s) AS session_start, max(ts_s) AS session_end,
       |       count(*) AS n_events,
       |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
       |FROM g GROUP BY user_id, session_seq
       |ORDER BY user_id, session_seq""".stripMargin

  /** Salted two-phase aggregation ≡ plain GROUP BY: the salt only splits
    * the partial aggregation; decimal partials make the re-combination
    * exact, so the oracle is the unsalted query.
    */
  private val qSaltedAgg =
    """SELECT event_type, count(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
      |       min(value) AS min_v, max(value) AS max_v
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Salted join is row-identical to the plain inner join by construction
    * — the oracle IS the plain join.
    */
  private val qSaltedJoin =
    """SELECT c_mktsegment, count(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Gorilla pack→unpack is lossless, so the oracle is the identity: the
    * raw (user_id, ts, value) rows.
    */
  private val gorillaRoundtrip =
    s"""SELECT CAST(user_id AS BIGINT) AS user_id, $tsS AS ts, value
       |FROM events ORDER BY user_id, ts, value""".stripMargin

  private val qSlidingAgg =
    s"""WITH e AS (
       |  SELECT event_type, $tsS AS ts_s, value FROM events),
       |x AS (
       |  SELECT event_type, ts_s, value,
       |         (ts_s - (ts_s % 900)) - i * 900 AS window_start
       |  FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS i)
       |  WHERE ts_s < (ts_s - (ts_s % 900)) - i * 900 + 3600
       |    AND ts_s >= (ts_s - (ts_s % 900)) - i * 900)
       |SELECT event_type, window_start, count(*) AS n,
       |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
       |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val qDateParts =
    """SELECT EXTRACT(year FROM o_orderdate) AS y,
      |       EXTRACT(quarter FROM o_orderdate) AS q,
      |       count(*) AS n_orders,
      |       count(DISTINCT EXTRACT(month FROM o_orderdate)) AS n_months,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |         AS revenue
      |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val qOuterJoin =
    """WITH pc AS (
      |  SELECT o_custkey, count(*) AS n_orders,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |           AS spend
      |  FROM orders GROUP BY 1)
      |SELECT c_mktsegment,
      |       count(c_custkey) AS n_customers,
      |       count(CASE WHEN o_custkey IS NULL THEN 1 END)
      |         AS n_without_orders,
      |       CAST(SUM(COALESCE(n_orders, 0)) AS BIGINT) AS n_orders,
      |       CAST(SUM(CAST(COALESCE(spend, 0.0) AS DECIMAL(18,2)))
      |            AS DOUBLE) AS total_spend
      |FROM customer FULL OUTER JOIN pc ON c_custkey = o_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  private val qWindowRanks =
    s"""WITH e AS (
       |  SELECT event_type, event_id, $tsS AS ts_s
       |  FROM events WHERE user_id % 100 = 0)
       |SELECT event_type, event_id, ts_s,
       |       ntile(4) OVER w AS quartile,
       |       round(percent_rank() OVER w, 6) AS pct_rank,
       |       round(cume_dist() OVER w, 6) AS cume,
       |       first_value(event_id) OVER w AS first_id
       |FROM e WINDOW w AS (PARTITION BY event_type ORDER BY ts_s, event_id)
       |ORDER BY event_type, ts_s, event_id""".stripMargin

  private val tsdbIncrease =
    s"""WITH e AS (
       |  SELECT event_type, event_id, $tsS AS ts_s,
       |         CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events),
       |d AS (
       |  SELECT *, lag(v) OVER (PARTITION BY event_type
       |                         ORDER BY ts_s, event_id) AS prev
       |  FROM e),
       |x AS (
       |  SELECT event_type, ts_s - (ts_s % 3600) AS bucket_start,
       |         CASE WHEN prev IS NULL THEN NULL
       |              WHEN v >= prev THEN v - prev
       |              ELSE v END AS delta
       |  FROM d)
       |SELECT event_type, bucket_start,
       |       CAST(SUM(delta) AS DOUBLE) AS increase,
       |       round(CAST(SUM(delta) AS DOUBLE) / 3600, 6) AS rate_per_sec
       |FROM x WHERE delta IS NOT NULL
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val dedupExact =
    """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
      |FROM documents GROUP BY md5(text)
      |ORDER BY doc_id""".stripMargin

  /** Shared shingle-pair CTE chain: 3-word shingles, inverted-index join,
    * exact Jaccard. Used by the exact join, the MinHash query (whose
    * verified output equals the exact result), and the pipeline capstone.
    */
  private val jaccardCtes =
    """WITH w AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
      |                        for i in range(1, len(ws) - 1)]) AS s
      |  FROM w),
      |ex AS (SELECT doc_id, len(s) AS n, unnest(s) AS tok FROM sh),
      |p AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c,
      |         any_value(a.n) AS n1, any_value(b.n) AS n2
      |  FROM ex a JOIN ex b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  private val jaccardPairs =
    s"""$jaccardCtes
       |SELECT id1, id2, round(c / (n1 + n2 - c), 6) AS jaccard
       |FROM p WHERE c / (n1 + n2 - c) >= 0.8
       |ORDER BY id1, id2""".stripMargin

  /** Df-capped Jaccard mirror (Dedup.ngramJaccardPairs maxDocFreq=5):
    * shingles with document frequency > 5 are dropped from every doc's
    * set and set sizes are recomputed over the capped universe.
    */
  private val jaccardCappedCtes =
    """WITH w AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
      |                        for i in range(1, len(ws) - 1)]) AS s
      |  FROM w),
      |ex0 AS (SELECT doc_id, unnest(s) AS tok FROM sh),
      |hot AS (SELECT tok FROM ex0 GROUP BY tok HAVING count(*) > 5),
      |ex AS (
      |  SELECT doc_id, tok, count(*) OVER (PARTITION BY doc_id) AS n
      |  FROM ex0 WHERE tok NOT IN (SELECT tok FROM hot)),
      |p AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c,
      |         any_value(a.n) AS n1, any_value(b.n) AS n2
      |  FROM ex a JOIN ex b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  private val jaccardCapped =
    s"""$jaccardCappedCtes
       |SELECT id1, id2, round(c / (n1 + n2 - c), 6) AS jaccard
       |FROM p WHERE c / (n1 + n2 - c) >= 0.8
       |ORDER BY id1, id2""".stripMargin

  /** Transitive closure via recursive CTE: min reachable id per node. */
  private val dedupComponents =
    s"""${jaccardCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |pr AS (
       |  SELECT id1, id2 FROM p WHERE c / (n1 + n2 - c) >= 0.8),
       |edges AS (
       |  SELECT id1 AS a, id2 AS b FROM pr
       |  UNION SELECT id2, id1 FROM pr),
       |reach AS (
       |  SELECT a AS id, a AS r FROM edges
       |  UNION
       |  SELECT e.b, reach.r FROM reach JOIN edges e ON reach.id = e.a)
       |SELECT id AS doc_id, min(r) AS component
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** Transitive closure over the df-capped pair graph (same reach CTE). */
  private val dedupComponentsCapped =
    s"""${jaccardCappedCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |pr AS (
       |  SELECT id1, id2 FROM p WHERE c / (n1 + n2 - c) >= 0.8),
       |edges AS (
       |  SELECT id1 AS a, id2 AS b FROM pr
       |  UNION SELECT id2, id1 FROM pr),
       |reach AS (
       |  SELECT a AS id, a AS r FROM edges
       |  UNION
       |  SELECT e.b, reach.r FROM reach JOIN edges e ON reach.id = e.a)
       |SELECT id AS doc_id, min(r) AS component
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** SimHash oracle: portable 60-bit token hash (first 15 hex digits of
    * md5, base-16 decoded via sequential fold), per-bit majority vote,
    * all-pairs Hamming <= 3. The Spark plan computes the identical bits.
    */
  private val dedupSimhash: String = {
    val bitTerms = (0 until 60).map { j =>
      val p = 1L << j
      s"CASE WHEN SUM(CASE WHEN (th >> $j) & 1 = 1 THEN 1 ELSE -1 END) >= 0 THEN ${p} ELSE 0 END"
    }.mkString(" +\n         ")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |  FROM documents),
       |h AS (
       |  SELECT doc_id,
       |         list_reduce(
       |           list_transform(range(1, 16),
       |             i -> strpos('0123456789abcdef', substring(md5(tok), i, 1)) - 1),
       |           (a, x) -> a * 16 + x) AS th
       |  FROM toks),
       |s AS (
       |  SELECT doc_id,
       |         $bitTerms AS sh
       |  FROM h GROUP BY doc_id)
       |SELECT a.doc_id AS id1, b.doc_id AS id2,
       |       bit_count(xor(a.sh, b.sh)) AS hamming
       |FROM s a JOIN s b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sh, b.sh)) <= 3
       |ORDER BY id1, id2""".stripMargin
  }

  /** SimHash star-cluster mirror — the EXACT DuckDB replay of
    * Dedup.simHashClusters: the portable 60-bit simhash (same md5 token
    * hash as the pair oracle), 4 bands × 15 bits, one hub per
    * (band, bucket) cell (min doc_id — the struct-min, since each doc
    * appears once per cell), hub→member edges kept iff the exact
    * Hamming test passes, then the recursive-CTE transitive closure
    * labeling every node with its minimum reachable id.
    */
  private val dedupSimhashClusters: String = {
    val bitTerms = (0 until 60).map { j =>
      val p = 1L << j
      s"CASE WHEN SUM(CASE WHEN (th >> $j) & 1 = 1 THEN 1 ELSE -1 END) >= 0 THEN ${p} ELSE 0 END"
    }.mkString(" +\n         ")
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id,
       |         unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |  FROM documents),
       |h AS (
       |  SELECT doc_id,
       |         list_reduce(
       |           list_transform(range(1, 16),
       |             i -> strpos('0123456789abcdef', substring(md5(tok), i, 1)) - 1),
       |           (a, x) -> a * 16 + x) AS th
       |  FROM toks),
       |s AS (
       |  SELECT doc_id,
       |         $bitTerms AS sh
       |  FROM h GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, sh, bands.band,
       |         (sh >> (CAST(bands.band AS INTEGER) * 15)) & 32767 AS bucket
       |  FROM s, (SELECT unnest(range(0, 4)) AS band) bands),
       |hubs AS (
       |  SELECT band, bucket, min(doc_id) AS hub
       |  FROM banded GROUP BY 1, 2),
       |e0 AS (
       |  SELECT DISTINCT hb.hub AS id1, bd.doc_id AS id2
       |  FROM banded bd
       |  JOIN hubs hb USING (band, bucket)
       |  JOIN s hs ON hs.doc_id = hb.hub
       |  WHERE bd.doc_id <> hb.hub
       |    AND bit_count(xor(bd.sh, hs.sh)) <= 3),
       |edges AS (
       |  SELECT id1 AS a, id2 AS b FROM e0
       |  UNION SELECT id2, id1 FROM e0),
       |reach AS (
       |  SELECT a AS id, a AS r FROM edges
       |  UNION
       |  SELECT e.b, reach.r FROM reach JOIN edges e ON reach.id = e.a)
       |SELECT id AS doc_id, min(r) AS component
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin
  }

  /** Embedding CTE: double-cast vectors + sequential-fold norms. */
  /** Normalized-embedding CTE over a parameterized source — `embeddings`
    * for the shared table, or a read_parquet() path for fixture corpora
    * (the clustered bench fixture is written by Verify itself before the
    * compare runs; `__CLUSTERED_EMB__` is substituted with the absolute
    * fixture path at oracle-dump time, Verify.scala). */
  private def embNormFrom(source: String) =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM $source),
       |n AS (
       |  SELECT vec_id, e,
       |         sqrt(list_reduce(list_transform(e, x -> x * x),
       |                          (a, b) -> a + b)) AS nrm
       |  FROM v)""".stripMargin
  private val embNorm = embNormFrom("embeddings")

  private val dedupEmbedding =
    s"""$embNorm,
       |p AS (
       |  SELECT a.vec_id AS id1, b.vec_id AS id2,
       |         list_reduce(
       |           list_transform(range(1, len(a.e) + 1), i -> a.e[i] * b.e[i]),
       |           (x, y) -> x + y) / (a.nrm * b.nrm) AS cs
       |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
       |SELECT id1, id2, round(cs, 6) AS cosine
       |FROM p WHERE cs >= 0.45
       |ORDER BY id1, id2""".stripMargin

  /** Semantic-decontam mirror: the shared sequential-fold cosine, the
    * threshold compared on the ROUNDED similarity (membership exact
    * cross-engine), arg-max via lexicographic struct_pack (sim first —
    * ties to the larger eval id, the engine's struct contract). */
  private val textDecontamSemantic =
    s"""$embNorm,
       |p AS (
       |  SELECT a.vec_id AS doc_id, b.vec_id AS eval_id,
       |         round(list_reduce(
       |           list_transform(range(1, len(a.e) + 1), i -> a.e[i] * b.e[i]),
       |           (x, y) -> x + y) / (a.nrm * b.nrm), 6) AS sim
       |  FROM n a JOIN n b
       |    ON NOT (a.vec_id % 20 = 0 AND a.vec_id < 2000)
       |   AND b.vec_id % 20 = 0 AND b.vec_id < 2000),
       |f AS (SELECT * FROM p WHERE sim >= 0.35)
       |SELECT doc_id, count(*) AS n_eval_hits,
       |       (max(struct_pack(sim := sim, eval_id := eval_id))).sim
       |         AS best_sim,
       |       (max(struct_pack(sim := sim, eval_id := eval_id))).eval_id
       |         AS best_eval_id
       |FROM f GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** SQ8 quantization roundtrip mirror — per-element op order matches
    * the engine exactly (abs-max fold → /127 → floor(x/scale + 0.5) →
    * q*scale), the cosine is the sequential list_reduce fold shared by
    * every embedding oracle, and max/sum folds are order-insensitive. */
  private val embQuantizeSq8 =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id, e,
       |         list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
       |  FROM v),
       |d AS (
       |  SELECT vec_id, e, scale,
       |         list_transform(e, x -> floor(x / scale + 0.5)) AS qi
       |  FROM q WHERE scale > 0),
       |r AS (
       |  SELECT vec_id, e, scale, qi,
       |         list_transform(qi, x -> x * scale) AS dv
       |  FROM d)
       |SELECT vec_id,
       |       round(scale, 6) AS scale_r,
       |       CAST(list_sum(list_transform(qi, x -> CAST(x AS BIGINT)))
       |            AS BIGINT) AS q_sum,
       |       round(list_max(list_transform(range(1, len(e) + 1),
       |             i -> abs(e[i] - dv[i]))), 6) AS max_abs_err,
       |       round(list_reduce(list_transform(range(1, len(e) + 1),
       |               i -> e[i] * dv[i]), (x, y) -> x + y)
       |         / (sqrt(list_reduce(list_transform(e, x -> x * x),
       |                             (a, b) -> a + b))
       |          * sqrt(list_reduce(list_transform(dv, x -> x * x),
       |                             (a, b) -> a + b))), 6) AS cos_dequant
       |FROM r ORDER BY vec_id""".stripMargin

  private val annTopk =
    s"""$embNorm,
       |p AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS nid,
       |         round(list_reduce(
       |           list_transform(range(1, len(q.e) + 1), i -> q.e[i] * c.e[i]),
       |           (x, y) -> x + y) / (q.nrm * c.nrm), 6) AS sim
       |  FROM n q JOIN n c ON q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id)
       |SELECT qid, rank, nid, sim FROM (
       |  SELECT qid, nid, sim,
       |         row_number() OVER (PARTITION BY qid
       |                            ORDER BY sim DESC, nid) AS rank
       |  FROM p)
       |WHERE rank <= 5
       |ORDER BY qid, rank""".stripMargin

  /** Brute-force ANN over the CLUSTERED bench fixture — identical query
    * shape to [[annTopk]], sourced from the fixture parquet that Verify
    * materializes (ClusteredEmbeddings.ensure) before the oracle compare
    * runs; the placeholder resolves to its absolute path at dump time. */
  private val annClusteredAgg =
    s"""${embNormFrom("read_parquet('__CLUSTERED_EMB__/*.parquet')")},
       |p AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS nid,
       |         round(list_reduce(
       |           list_transform(range(1, len(q.e) + 1), i -> q.e[i] * c.e[i]),
       |           (x, y) -> x + y) / (q.nrm * c.nrm), 6) AS sim
       |  FROM n q JOIN n c ON q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id)
       |SELECT qid, rank, nid, sim FROM (
       |  SELECT qid, nid, sim,
       |         row_number() OVER (PARTITION BY qid
       |                            ORDER BY sim DESC, nid) AS rank
       |  FROM p)
       |WHERE rank <= 5
       |ORDER BY qid, rank""".stripMargin

  /** approx_percentile in its exact regime: at the compare SF the group
    * cardinality (≈ 20k rows) is far below the sketch accuracy (1e5), so
    * the GK summary's rank error is < 1 and the answer is the exact
    * discrete percentile — quantile_disc here. At larger SFs the same
    * query is genuinely approximate (rank error grows with n), which is
    * the scale posture the operator exists for. */
  private val qApproxPercentile =
    """SELECT l_returnflag,
      |       count(*) AS n,
      |       quantile_disc(l_quantity, 0.5) AS p50_qty,
      |       quantile_disc(l_quantity, 0.95) AS p95_qty
      |FROM lineitem
      |GROUP BY 1 ORDER BY 1""".stripMargin

  private def langCount(markers: Seq[String]): String =
    s"len(list_filter(toks, t -> t IN (${markers.map(m => s"'$m'").mkString(", ")})))"

  private val textLangid: String = {
    val markers = graft.functions.TextFunctions.LangMarkers
    val scoreDefs = markers.map { case (lang, m) =>
      s"${langCount(m)} AS s_$lang"
    }.mkString(",\n         ")
    val best = s"greatest(${markers.map("s_" + _._1).mkString(", ")})"
    val cases = markers.map { case (lang, _) =>
      s"WHEN s_$lang > 0 AND s_$lang = $best THEN '$lang'"
    }.mkString("\n            ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |         regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
       |  FROM documents),
       |sc AS (
       |  SELECT doc_id,
       |         $scoreDefs
       |  FROM t)
       |SELECT doc_id,
       |       CASE $cases
       |            ELSE 'und' END AS lang_pred
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  /** Shared SQL mirror of [[graft.operators.TextAnalysis.qualityScore]]:
    * the raw-counts CTE body (`dims` = extra document columns carried
    * through) and the composite score expression. ONE source of truth —
    * textQuality, textQualityFilter, and pipelineDomainCap all build on
    * these, so a scoring tweak cannot silently drift the oracles apart.
    */
  private def qualityCountsCte(dims: String*): String = {
    val en = graft.functions.TextFunctions.LangMarkers.head._2
      .map(m => s"'$m'").mkString(", ")
    val d = dims.map(c => s"$c,\n         ").mkString
    s"""SELECT doc_id, $d
       |         length(text) AS n_chars,
       |         len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
       |         length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS punct,
       |         len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |                         t -> t IN ($en))) AS stops
       |  FROM documents""".stripMargin
  }

  private val qualityExprSql =
    """round(least(n_words / 100.0, 1.0) * 0.5 +
      |               (1.0 - least(CAST(punct AS DOUBLE) / n_chars * 10.0, 1.0)) * 0.3 +
      |               least(CAST(stops AS DOUBLE) / n_words * 5.0, 1.0) * 0.2, 6)""".stripMargin

  private val textQuality: String =
    s"""WITH t AS (
       |  ${qualityCountsCte("length(regexp_replace(text, '\\s+', '', 'g')) AS nospace")})
       |SELECT doc_id, n_chars, n_words,
       |       round(CAST(nospace AS DOUBLE) / n_words, 6) AS mean_word_len,
       |       round(CAST(punct AS DOUBLE) / n_chars, 6) AS punct_ratio,
       |       round(CAST(stops AS DOUBLE) / n_words, 6) AS stopword_ratio,
       |       $qualityExprSql AS quality
       |FROM t ORDER BY doc_id""".stripMargin

  // domain cap: top-8 docs per source by quality (same quality CTE as
  // text_quality), rank = row_number over (quality DESC, doc_id) — the
  // bounded aggregator's documented window equivalence
  /** PII redaction mirror: the identical doc_id-derived augmentation
    * (one doc in three gains an email/IPv4/SSN/phone), then the same
    * pattern chain via RE2 — counts per pattern on the original text,
    * replacements folded in [[graft.operators.TextAnalysis.PiiPatterns]]
    * order with the 'g' flag (Spark's regexp_replace is global by
    * default; DuckDB's is first-match without it). */
  private val pipelineRedactPii: String = {
    val pats = graft.operators.TextAnalysis.PiiPatterns
    def sq(s: String) = s.replace("'", "''")
    val counts = pats.map { case (n, p, _) =>
      s"len(regexp_extract_all(text, '${sq(p)}')) AS n_$n"
    }.mkString(",\n       ")
    val repl = pats.foldLeft("text") { case (acc, (_, p, tok)) =>
      s"regexp_replace($acc, '${sq(p)}', '$tok', 'g')"
    }
    s"""WITH aug AS (
       |  SELECT doc_id,
       |         text || CASE WHEN doc_id % 3 = 0 THEN
       |           ' contact u' || CAST(doc_id AS VARCHAR) ||
       |           '@mail' || CAST(doc_id % 7 AS VARCHAR) ||
       |           '.example.com' ||
       |           ' from 10.' || CAST(doc_id % 200 AS VARCHAR) ||
       |           '.' || CAST(doc_id % 250 AS VARCHAR) ||
       |           '.' || CAST(doc_id % 97 AS VARCHAR) ||
       |           ' ssn ' ||
       |           lpad(CAST(doc_id * 7 % 1000 AS VARCHAR), 3, '0') ||
       |           '-' || lpad(CAST(doc_id * 3 % 100 AS VARCHAR), 2, '0') ||
       |           '-' || lpad(CAST(doc_id * 11 % 10000 AS VARCHAR), 4, '0') ||
       |           ' call +1-555-' ||
       |           lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
       |           '-' || lpad(CAST(doc_id * 13 % 10000 AS VARCHAR), 4, '0')
       |           ELSE '' END AS text
       |  FROM documents)
       |SELECT doc_id,
       |       $counts,
       |       $repl AS clean_text
       |FROM aug ORDER BY doc_id""".stripMargin
  }

  /** Chunking mirror: identical tokenization (regexp_split_to_array on
    * trimmed text), identical chunk-count formula, DuckDB 1-based
    * inclusive list slice ≡ Spark's slice(arr, start, length). */
  private val pipelineChunks: String = {
    val cw = 24; val st = 16 // chunkWords / stride (overlap 8)
    s"""WITH w AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
       |  FROM documents WHERE trim(text) <> ''),
       |c AS (
       |  SELECT doc_id, ws, len(ws) AS n,
       |         CASE WHEN len(ws) <= $cw THEN 1
       |              ELSE 1 + CAST(ceil((len(ws) - $cw)
       |                / CAST($st AS DOUBLE)) AS BIGINT) END AS nch
       |  FROM w),
       |x AS (
       |  SELECT doc_id, n, ws, unnest(range(nch)) AS chunk_idx FROM c)
       |SELECT doc_id, chunk_idx,
       |       chunk_idx * $st AS word_offset,
       |       least($cw, n - chunk_idx * $st) AS chunk_words,
       |       array_to_string(
       |         ws[chunk_idx * $st + 1 : chunk_idx * $st + $cw], ' ')
       |         AS chunk_text
       |FROM x ORDER BY doc_id, chunk_idx""".stripMargin
  }

  /** DSIR importance-weight mirror — identical hashed unigram+bigram
    * cells (md5-u32 % 1024, the sampling-mirror u32), Laplace-smoothed
    * log-ratio factors quantized to integer micro-nats through the
    * tie-free floor form, exact BIGINT per-doc sums. Target = lang 'en'.
    */
  private val pipelineDsir: String = {
    val b = 1024
    s"""WITH d AS (
       |  SELECT doc_id, lang,
       |         regexp_split_to_array(trim(lower(text)), '\\s+') AS ws
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, lang,
       |         unnest(ws || [ws[i] || ' ' || ws[i+1]
       |                       for i in range(1, len(ws))]) AS gram
       |  FROM d),
       |c AS (
       |  SELECT doc_id, lang,
       |         CAST(list_reduce(list_transform(range(1, 9),
       |             i -> strpos('0123456789abcdef',
       |                         substring(md5('dsir' || gram), i, 1)) - 1),
       |           (a, x) -> a * 16 + x) AS BIGINT) % $b AS b
       |  FROM g),
       |rc AS (SELECT b, count(*) AS ct_r FROM c GROUP BY 1),
       |tc AS (SELECT b, count(*) AS ct_t FROM c WHERE lang = 'en'
       |       GROUP BY 1),
       |tot AS (SELECT (SELECT sum(ct_r) FROM rc) AS tot_r,
       |               (SELECT sum(ct_t) FROM tc) AS tot_t),
       |f AS (
       |  SELECT rc.b,
       |         CAST(floor(ln(
       |             ((coalesce(tc.ct_t, 0) + 1.0)
       |                * CAST(tot.tot_r + $b AS DOUBLE)) /
       |             ((rc.ct_r + 1.0)
       |                * CAST(tot.tot_t + $b AS DOUBLE))) * 1e6 + 0.5)
       |           AS BIGINT) AS lr_micro
       |  FROM rc LEFT JOIN tc USING (b) CROSS JOIN tot)
       |SELECT doc_id, count(*) AS n_grams,
       |       CAST(sum(lr_micro) AS BIGINT) AS weight_micro,
       |       CAST(sum(lr_micro) AS BIGINT) / 1e6 AS weight
       |FROM c JOIN f USING (b)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** CCNet perplexity mirror: per-language self-trained hashed-bigram LM
    * (cells via the md5-u32 chain, salts 'lmu'/'lmb'), add-one smoothing
    * over 16384 cells, per-event micro-nat factors re-derived inline
    * (equal to the Spark factor-table values — a factor is a pure
    * function of the cell count), exact BIGINT h_micro sums, floor-r6
    * perplexity, tercile buckets via percent_rank. Reference = pool, so
    * the prefix join is INNER (every scoring event contributed to its
    * own cell census).
    */
  private val pipelinePerplexity: String = {
    val b = 1 << 14
    def md5u32(expr: String) =
      s"""CAST(list_reduce(list_transform(range(1, 9),
         |             i -> strpos('0123456789abcdef',
         |                         substring(md5($expr), i, 1)) - 1),
         |           (a, x) -> a * 16 + x) AS BIGINT) % $b""".stripMargin
    s"""WITH d AS (
       |  SELECT doc_id, lang,
       |         regexp_split_to_array(trim(lower(text)), '\\s+') AS ws
       |  FROM documents),
       |e0 AS (
       |  SELECT doc_id, lang, ws, unnest(range(1, len(ws))) AS i FROM d),
       |e AS (
       |  SELECT doc_id, lang, ws[i] AS pfx, ws[i] || ' ' || ws[i+1] AS big
       |  FROM e0),
       |c AS (
       |  SELECT doc_id, lang,
       |         ${md5u32("'lmu' || pfx")} AS bu,
       |         ${md5u32("'lmb' || big")} AS bb
       |  FROM e),
       |uc AS (SELECT lang, bu, count(*) AS ct_u FROM c GROUP BY 1, 2),
       |bc AS (SELECT lang, bb, count(*) AS ct_b FROM c GROUP BY 1, 2),
       |s AS (
       |  SELECT doc_id, lang, count(*) AS n_events,
       |         CAST(sum(
       |             CAST(floor(ln(uc.ct_u + CAST($b AS DOUBLE)) * 1e6
       |               + 0.5) AS BIGINT)
       |             - coalesce(CAST(floor(ln(bc.ct_b + 1.0) * 1e6 + 0.5)
       |               AS BIGINT), 0)) AS BIGINT) AS h_micro
       |  FROM c JOIN uc USING (lang, bu) LEFT JOIN bc USING (lang, bb)
       |  GROUP BY 1, 2),
       |p AS (
       |  SELECT doc_id, lang, n_events, h_micro,
       |         floor(exp((h_micro / 1e6) / n_events) * 1e6 + 0.5) / 1e6
       |           AS ppl
       |  FROM s),
       |r AS (
       |  SELECT *, percent_rank() OVER (PARTITION BY lang ORDER BY ppl)
       |           AS pr
       |  FROM p)
       |SELECT doc_id, lang, n_events, h_micro, ppl,
       |       CASE WHEN pr <= 1.0/3 THEN 'head'
       |            WHEN pr <= 2.0/3 THEN 'middle' ELSE 'tail' END
       |         AS ppl_bucket
       |FROM r ORDER BY doc_id""".stripMargin
  }

  private val pipelineDomainCap: String = {
    s"""WITH t AS (
       |  ${qualityCountsCte("source")}),
       |q AS (
       |  SELECT doc_id, source,
       |         $qualityExprSql AS quality
       |  FROM t
       |  WHERE $qualityExprSql IS NOT NULL),
       |r AS (
       |  SELECT source, doc_id, quality,
       |         row_number() OVER (
       |           PARTITION BY source ORDER BY quality DESC, doc_id) AS rank
       |  FROM q)
       |SELECT source, rank, doc_id, quality FROM r
       |WHERE rank <= 8 ORDER BY source, rank""".stripMargin
  }

  /** BPE encoder mirror — an INDEPENDENT implementation of the Sennrich
    * apply: a recursive CTE steps through the injected merge table
    * (__BPE_MERGES__ / __BPE_K__, substituted at oracle-dump time) and
    * each step re-segments via a left-to-right non-overlapping
    * list_reduce fold over singleton-wrapped tokens. Only DISTINCT words
    * are encoded (≤ vocabulary rows × K steps), then joined back onto
    * word instances; the md5 fingerprint aggregates tokens in strict
    * (word-position, token-position) document order with the 0x1f
    * separator — matching the engine's concat_ws("\\u001f") byte-exactly.
    */
  private val textBpeTokens =
    s"""WITH RECURSIVE mt AS (
       |  SELECT unnest(range(1, __BPE_K__ + 1)) AS k,
       |         unnest(__BPE_MERGES__) AS mg),
       |d AS (
       |  SELECT doc_id,
       |         regexp_split_to_array(trim(lower(text)), '\\s+') AS ws
       |  FROM documents),
       |w0 AS (
       |  SELECT doc_id, unnest(ws) AS word,
       |         unnest(range(1, len(ws) + 1)) AS wi
       |  FROM d),
       |w AS (SELECT * FROM w0 WHERE word <> ''),
       |dw AS (SELECT DISTINCT word FROM w),
       |rec AS (
       |  SELECT word, string_split(word, '') AS toks, 0 AS k FROM dw
       |  UNION ALL
       |  SELECT r.word,
       |         CASE WHEN len(r.toks) <= 1 THEN r.toks ELSE
       |           list_reduce(list_transform(r.toks, t -> [t]),
       |             (acc, x) ->
       |               CASE WHEN len(acc) > 0 AND acc[-1] = mt.mg.a
       |                         AND x[1] = mt.mg.b
       |                    THEN list_append(acc[:-2], mt.mg.a || mt.mg.b)
       |                    ELSE list_concat(acc, x) END)
       |         END AS toks,
       |         r.k + 1 AS k
       |  FROM rec r JOIN mt ON mt.k = r.k + 1),
       |f AS (SELECT word, toks FROM rec WHERE k = __BPE_K__),
       |x AS (
       |  SELECT w.doc_id, w.wi, unnest(f.toks) AS tok,
       |         unnest(range(1, len(f.toks) + 1)) AS ti
       |  FROM w JOIN f USING (word))
       |SELECT doc_id,
       |       count(DISTINCT wi) AS n_words,
       |       count(*) AS n_bpe_tokens,
       |       md5(string_agg(tok, chr(31) ORDER BY wi, ti)) AS tokens_md5
       |FROM x GROUP BY 1 ORDER BY doc_id""".stripMargin

  private val textTokens =
    s"""SELECT doc_id,
       |       len(regexp_split_to_array(trim(text), '\\s+')) AS n_ws_tokens,
       |       len(regexp_extract_all(text,
       |           '${graft.functions.TextFunctions.BpePattern}')) AS n_bpe_tokens
       |FROM documents ORDER BY doc_id""".stripMargin

  private val textFingerprint =
    """WITH t AS (
      |  SELECT doc_id,
      |         regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
      |  FROM documents)
      |SELECT doc_id, md5(norm) AS fp_md5,
      |       list_reduce(
      |         list_transform(range(1, length(norm) + 1),
      |           i -> CAST(ascii(substring(norm, i, 1)) AS BIGINT)),
      |         (a, c) -> (a * 31 + c) % 1000000007) AS fp_poly
      |FROM t ORDER BY doc_id""".stripMargin

  /** Capstone: quality-filter + near-dup removal → clean corpus. */
  private def pipelineSql(ctes: String): String = {
    val en = graft.functions.TextFunctions.LangMarkers.head._2
      .map(m => s"'$m'").mkString(", ")
    s"""$ctes,
       |dropped AS (
       |  SELECT DISTINCT id2 AS doc_id FROM p
       |  WHERE c / (n1 + n2 - c) >= 0.8),
       |qual AS (
       |  SELECT doc_id,
       |         len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
       |         round(least(len(regexp_split_to_array(trim(text), '\\s+')) / 100.0, 1.0) * 0.5 +
       |               (1.0 - least(CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text) * 10.0, 1.0)) * 0.3 +
       |               least(CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t IN ($en))) AS DOUBLE) / len(regexp_split_to_array(trim(text), '\\s+')) * 5.0, 1.0) * 0.2, 6) AS quality
       |  FROM documents)
       |SELECT doc_id, n_words, quality FROM qual
       |WHERE quality >= 0.5
       |  AND doc_id NOT IN (SELECT doc_id FROM dropped)
       |ORDER BY doc_id""".stripMargin
  }

  private val pipelineCleanCorpus: String = pipelineSql(jaccardCtes)

  /** The capstone on the df-capped (100 TB-safe) near-dup path. */
  private val pipelineCleanCorpusCapped: String = pipelineSql(jaccardCappedCtes)

  /** Keep-best mirror: transitive-closure components over the capped pair
    * graph, per-cluster representative by (quality DESC, doc_id) — the
    * window formulation of the Spark plan's max_by aggregation.
    */
  private val pipelineKeepBest: String = {
    val en = graft.functions.TextFunctions.LangMarkers.head._2
      .map(m => s"'$m'").mkString(", ")
    s"""${jaccardCappedCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |pr AS (
       |  SELECT id1, id2 FROM p WHERE c / (n1 + n2 - c) >= 0.8),
       |edges AS (
       |  SELECT id1 AS a, id2 AS b FROM pr
       |  UNION SELECT id2, id1 FROM pr),
       |reach AS (
       |  SELECT a AS id, a AS r FROM edges
       |  UNION
       |  SELECT e.b, reach.r FROM reach JOIN edges e ON reach.id = e.a),
       |comp AS (
       |  SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id),
       |qual AS (
       |  SELECT doc_id,
       |         len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
       |         round(least(len(regexp_split_to_array(trim(text), '\\s+')) / 100.0, 1.0) * 0.5 +
       |               (1.0 - least(CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text) * 10.0, 1.0)) * 0.3 +
       |               least(CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t IN ($en))) AS DOUBLE) / len(regexp_split_to_array(trim(text), '\\s+')) * 5.0, 1.0) * 0.2, 6) AS quality
       |  FROM documents),
       |ranked AS (
       |  SELECT c.doc_id,
       |         row_number() OVER (PARTITION BY c.component
       |                            ORDER BY q.quality DESC, c.doc_id) AS rk
       |  FROM comp c JOIN qual q USING (doc_id)),
       |losers AS (SELECT doc_id FROM ranked WHERE rk > 1)
       |SELECT doc_id, n_words, quality FROM qual
       |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
       |ORDER BY doc_id""".stripMargin
  }

  /** TF-IDF top-3 terms per doc: score = tf · ln(N/df), round 6, term
    * tie-break — mirrors TextAnalysis.tfidfTopTerms.
    */
  private val textTfidf =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |  FROM documents),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
      |s AS (
      |  SELECT doc_id, tok, tf,
      |         round(tf * ln(n_docs / df), 6) AS score
      |  FROM tf JOIN df USING (tok) CROSS JOIN n),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |                               ORDER BY score DESC, tok) AS rank
      |  FROM s)
      |SELECT doc_id, rank, tok, score FROM r WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin

  /** Winnowing: k=8 char grams (rolling poly hash), w=4 windows, distinct
    * minima — mirrors TextFunctions.winnowFingerprints exactly.
    */
  private val textWinnow =
    """WITH t AS (
      |  SELECT doc_id,
      |         regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS n
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |         [list_reduce(
      |            list_transform(range(i, i + 8),
      |              j -> CAST(ascii(substring(n, j, 1)) AS BIGINT)),
      |            (a, c) -> (a * 31 + c) % 1000000007)
      |          for i in range(1, length(n) - 8 + 2)] AS hs
      |  FROM t),
      |f AS (
      |  SELECT doc_id,
      |         list_distinct([list_min(hs[p:p+3])
      |                        for p in range(1, len(hs) - 4 + 2)]) AS fps
      |  FROM g)
      |SELECT doc_id, len(fps) AS n_fp,
      |       list_min(fps) AS fp_min, list_max(fps) AS fp_max,
      |       CAST(list_sum(fps) AS BIGINT) AS fp_sum
      |FROM f ORDER BY doc_id""".stripMargin

  private val multimodalMetaCore =
    """SELECT doc_id,
      |       strlen(text) AS n_bytes,
      |       32 + (ascii(substring(text, 1, 1)) % 8) * 16 AS width,
      |       32 + (ascii(substring(text, 2, 1)) % 8) * 16 AS height,
      |       1 + (ascii(substring(text, 1, 1)) + ascii(substring(text, 2, 1))) % 3 AS channels,
      |       1 + strlen(text) // 128 AS n_frames
      |FROM documents""".stripMargin

  private val multimodalMeta =
    s"""$multimodalMetaCore
       |ORDER BY doc_id""".stripMargin

  /** GRFT16 round-trip mirror: the encode derives header fields from
    * doc_id and the payload byte length, so the oracle recomputes them
    * from first principles — agreement proves decode(encode(x)) == x
    * field-for-field over real 16-byte-header binaries.
    */
  private val multimodalHeaderDecode =
    """SELECT doc_id,
      |       CAST(1 AS INTEGER) AS version,
      |       CAST(32 + (doc_id % 8) * 16 AS INTEGER) AS width,
      |       CAST(32 + ((doc_id // 8) % 8) * 16 AS INTEGER) AS height,
      |       CAST(1 + doc_id % 3 AS INTEGER) AS channels,
      |       CAST(1 + strlen(text) // 128 AS BIGINT) AS n_frames,
      |       CAST(strlen(text) AS BIGINT) AS payload_len
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Fit-box resize mirror (targetW = targetH = 224): exact integer
    * cross-multiplication decides the binding side; floor division for
    * the scaled dim.
    */
  private val multimodalResize =
    s"""WITH m AS ($multimodalMetaCore)
       |SELECT doc_id, width, height,
       |       CASE WHEN 224 * height <= 224 * width THEN 224
       |            ELSE (width * 224) // height END AS out_w,
       |       CASE WHEN 224 * height <= 224 * width
       |            THEN (height * 224) // width
       |            ELSE 224 END AS out_h
       |FROM m ORDER BY doc_id""".stripMargin

  private val multimodalFeatures: String = {
    val bins = (0 until 16).map(b =>
      s"len(list_filter(codes, c -> c // 16 = $b)) AS h$b").mkString(",\n       ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |         [ascii(substring(text, i, 1))
       |          for i in range(1, length(text) + 1)] AS codes
       |  FROM documents)
       |SELECT doc_id,
       |       $bins
       |FROM t ORDER BY doc_id""".stripMargin
  }

  private val tsdbDownsample =
    s"""SELECT CAST(user_id AS BIGINT) AS user_id,
       |       $tsS - ($tsS % 3600) AS bucket_start,
       |       count(*) AS n,
       |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
       |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_v
       |FROM events
       |WHERE event_type = 'view' AND $tsS BETWEEN $T0 AND $T1
       |GROUP BY 1, 2
       |ORDER BY user_id, bucket_start""".stripMargin

  private val multimodalFrames =
    s"""WITH m AS ($multimodalMetaCore)
       |SELECT doc_id, unnest(range(0, n_frames, 2)) AS frame_idx,
       |       unnest(range(0, n_frames, 2)) * 128 AS byte_offset
       |FROM m ORDER BY doc_id, frame_idx""".stripMargin

  private val qRollup =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |       SUM(l_quantity) AS sum_qty,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  private val qCube =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  private val qGroupingSets =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  private val qWindowAnalytics =
    """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
      |       o_totalprice,
      |       rank() OVER w AS rnk,
      |       dense_rank() OVER w AS drnk,
      |       lag(o_totalprice) OVER w AS prev_price,
      |       lead(o_totalprice) OVER w AS next_price,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total,
      |       count(*) OVER (PARTITION BY o_custkey) AS n_orders
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  private val qPivot =
    s"""SELECT ($tsS // 86400) AS day,
       |       CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS click,
       |       CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS error,
       |       CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase,
       |       CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS signup,
       |       CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS view
       |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  private val qPercentiles =
    """SELECT l_returnflag,
      |       round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
      |       round(quantile_cont(l_quantity, 0.95), 6) AS p95_qty,
      |       round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_price,
      |       count(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  private val tsdbIngestStats =
    s"""SELECT ($tsS // 86400) AS seg,
       |       count(*) AS n_points,
       |       count(DISTINCT event_type || '|' || CAST(user_id AS VARCHAR)) AS n_series,
       |       min($tsS) AS min_ts, max($tsS) AS max_ts
       |FROM events GROUP BY 1 ORDER BY seg""".stripMargin

  /** Binary vector-op mirror: two label aggregations joined on
    * (cohort, bucket), decimal sums, ratio in double with round-6.
    */
  private val tsdbRatio =
    s"""WITH a AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS - ($tsS % 3600) AS bucket_start,
       |         count(*) AS n_a,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_a
       |  FROM events
       |  WHERE event_type = 'purchase' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1, 2),
       |b AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS - ($tsS % 3600) AS bucket_start,
       |         count(*) AS n_b,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_b
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1, 2)
       |SELECT a.cohort, a.bucket_start, n_a, n_b,
       |       round(sum_a / sum_b, 6) AS result
       |FROM a JOIN b USING (cohort, bucket_start)
       |ORDER BY 1, 2""".stripMargin

  /** Selector mirror: anchored metric regex + negative label matcher. */
  private val tsdbSelectorScan =
    s"""SELECT event_type, user_id, $tsS AS ts_s, value
       |FROM events
       |WHERE regexp_full_match(event_type, 'click|view')
       |  AND CAST(user_id AS VARCHAR) <> '7'
       |  AND $tsS BETWEEN $T0 AND $T1
       |ORDER BY event_type, user_id, ts_s, value""".stripMargin

  /** Gap-detection mirror: per-series lag over (ts, v), thresholded. */
  private val tsdbGaps =
    s"""WITH e AS (
       |  SELECT user_id, $tsS AS ts_s, value AS v
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1),
       |d AS (
       |  SELECT user_id, ts_s,
       |         ts_s - lag(ts_s) OVER (PARTITION BY user_id
       |                                ORDER BY ts_s, v) AS gap
       |  FROM e)
       |SELECT user_id, count(*) AS n_intervals,
       |       CAST(SUM(CASE WHEN gap > 3600 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_gaps,
       |       max(gap) AS max_gap
       |FROM d WHERE gap IS NOT NULL
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** resets() mirror: same deterministic (ts, v) lag order as the
    * increase oracle, counting negative deltas.
    */
  private val tsdbResets =
    s"""WITH e AS (
       |  SELECT user_id, CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1),
       |d AS (
       |  SELECT *, lag(v) OVER (PARTITION BY user_id
       |                         ORDER BY ts_s, v) AS prev
       |  FROM e)
       |SELECT cohort, ts_s - (ts_s % 3600) AS bucket_start,
       |       count(*) AS n_deltas,
       |       CAST(SUM(CASE WHEN v < prev THEN 1 ELSE 0 END) AS BIGINT)
       |         AS resets
       |FROM d WHERE prev IS NOT NULL
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** changes() mirror: tsdbResets with the compare widened to any
    * inequality — same deterministic (ts, v) lag order.
    */
  private val tsdbChanges =
    s"""WITH e AS (
       |  SELECT user_id, CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1),
       |d AS (
       |  SELECT *, lag(v) OVER (PARTITION BY user_id
       |                         ORDER BY ts_s, v) AS prev
       |  FROM e)
       |SELECT cohort, ts_s - (ts_s % 3600) AS bucket_start,
       |       count(*) AS n_deltas,
       |       CAST(SUM(CASE WHEN v <> prev THEN 1 ELSE 0 END) AS BIGINT)
       |         AS changes
       |FROM d WHERE prev IS NOT NULL
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** irate/idelta mirror: the same (ts, v) DESC rank window + lead pair
    * the Spark side runs; DECIMAL delta arithmetic, the reset-aware
    * numerator, and round(…,6) on the final division all mirror 1:1.
    */
  private val tsdbIrate =
    s"""WITH e AS (
       |  SELECT user_id, $tsS AS ts_s,
       |         CAST(value AS DECIMAL(18,2)) AS v,
       |         $tsS - ($tsS % 86400) AS bucket_start
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1),
       |r AS (
       |  SELECT *, ROW_NUMBER() OVER w AS rk,
       |         LEAD(ts_s) OVER w AS prev_ts,
       |         LEAD(v) OVER w AS prev_v
       |  FROM e
       |  WINDOW w AS (PARTITION BY user_id, bucket_start
       |               ORDER BY ts_s DESC, v DESC))
       |SELECT user_id, bucket_start, ts_s - prev_ts AS dt,
       |       CAST(v - prev_v AS DOUBLE) AS idelta,
       |       CASE WHEN ts_s - prev_ts > 0 THEN
       |         round(CAST(CASE WHEN v >= prev_v THEN v - prev_v
       |                         ELSE v END AS DOUBLE)
       |               / CAST(ts_s - prev_ts AS DOUBLE), 6) END AS irate
       |FROM r WHERE rk = 1 AND prev_ts IS NOT NULL
       |ORDER BY user_id, bucket_start""".stripMargin

  /** group_left mirror: the left side aggregates per (cohort, user_id),
    * the right per cohort only; the join keys the coarse labels and the
    * result keeps the fine grain — same DECIMAL sums + round(…,6) ratio
    * op order as tsdbRatio.
    */
  private val tsdbGroupLeft =
    s"""WITH a AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         user_id,
       |         $tsS - ($tsS % 86400) AS bucket_start,
       |         count(*) AS n_a,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_a
       |  FROM events
       |  WHERE event_type = 'purchase' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1, 2, 3),
       |b AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS - ($tsS % 86400) AS bucket_start,
       |         count(*) AS n_b,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_b
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1, 2)
       |SELECT a.cohort, a.user_id, a.bucket_start, n_a, n_b,
       |       round(sum_a / sum_b, 6) AS result
       |FROM a JOIN b USING (cohort, bucket_start)
       |ORDER BY 1, 2, 3""".stripMargin

  // group_left(cohort) carry: per-user purchase/click ratio with the
  // click side's cohort label carried onto the result
  private val tsdbGroupLeftCarry =
    s"""WITH a AS (
       |  SELECT CAST(user_id AS BIGINT) AS user_id,
       |         $tsS - ($tsS % 86400) AS bucket_start,
       |         count(*) AS n_a,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_a
       |  FROM events
       |  WHERE event_type = 'purchase' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1, 2),
       |b AS (
       |  SELECT CAST(user_id AS BIGINT) AS user_id,
       |         CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS - ($tsS % 86400) AS bucket_start,
       |         count(*) AS n_b,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_b
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1, 2, 3)
       |SELECT a.user_id, b.cohort, a.bucket_start, n_a, n_b,
       |       round(sum_a / sum_b, 6) AS result
       |FROM a JOIN b USING (user_id, bucket_start)
       |ORDER BY 1, 3""".stripMargin

  /** group_right mirror: the coarse click aggregate joined onto each
    * (cohort, user) purchase group — result at the right side's grain.
    */
  private val tsdbGroupRight =
    s"""WITH a AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS - ($tsS % 86400) AS bucket_start,
       |         count(*) AS n_a,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_a
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1, 2),
       |b AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         CAST(user_id AS BIGINT) AS user_id,
       |         $tsS - ($tsS % 86400) AS bucket_start,
       |         count(*) AS n_b,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_b
       |  FROM events
       |  WHERE event_type = 'purchase' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1, 2, 3)
       |SELECT b.cohort, b.user_id, b.bucket_start, n_a, n_b,
       |       round(sum_a / sum_b, 6) AS result
       |FROM b JOIN a USING (cohort, bucket_start)
       |ORDER BY 1, 2, 3""".stripMargin

  /** Bare per-series rate(): the tsdbAggIncrease lag pipeline with the
    * full label set (cohort, user_id) as the output grain.
    */
  private val tsdbPromqlRate =
    s"""WITH e AS (
       |  SELECT CAST(user_id AS BIGINT) AS user_id,
       |         CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1),
       |d AS (
       |  SELECT *, lag(v) OVER (PARTITION BY user_id
       |                         ORDER BY ts_s, v) AS prev
       |  FROM e),
       |x AS (
       |  SELECT cohort, user_id, ts_s - (ts_s % 3600) AS bucket_start,
       |         CASE WHEN prev IS NULL THEN NULL
       |              WHEN v >= prev THEN v - prev
       |              ELSE v END AS delta
       |  FROM d)
       |SELECT cohort, user_id, bucket_start,
       |       CAST(SUM(delta) AS DOUBLE) AS increase,
       |       round(CAST(SUM(delta) AS DOUBLE) / 3600, 6) AS rate_per_sec
       |FROM x WHERE delta IS NOT NULL
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** Bare per-series delta(): last-minus-first per (series, bucket) via
    * the same lexicographic struct-max/min endpoint pick as the Spark
    * aggregation.
    */
  private val tsdbPromqlDelta =
    s"""WITH e AS (
       |  SELECT CAST(user_id AS BIGINT) AS user_id,
       |         CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS - ($tsS % 3600) AS bucket_start,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1)
       |SELECT cohort, user_id, bucket_start, count(*) AS n,
       |       CAST((max(struct_pack(t := ts_s, v := v))).v -
       |            (min(struct_pack(t := ts_s, v := v))).v AS DOUBLE)
       |         AS delta
       |FROM e GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** Scalar-op alert shape: the tsdbRatio pipeline scaled to percent and
    * threshold-filtered (drop semantics) — arithmetic on the rounded
    * ratio, single IEEE ops in both engines.
    */
  private val tsdbPromqlScalar =
    s"""WITH a AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS - ($tsS % 3600) AS bucket_start,
       |         count(*) AS n_a,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_a
       |  FROM events
       |  WHERE event_type = 'purchase' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1, 2),
       |b AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS - ($tsS % 3600) AS bucket_start,
       |         count(*) AS n_b,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_b
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT a.cohort, a.bucket_start, n_a, n_b,
       |         round(sum_a / sum_b, 6) * 100 AS result
       |  FROM a JOIN b USING (cohort, bucket_start))
       |SELECT * FROM r WHERE result > 55
       |ORDER BY 1, 2""".stripMargin

  /** Standalone `scalar(sum(click[1h]))` — a generate_series grid over
    * the window's hour buckets left-joined to the global per-bucket sum,
    * NaN-filled where the aggregation left a bucket empty (Prometheus's
    * scalar semantics, the engine's `evalGrid` mirror).
    */
  private val tsdbPromqlScalarAlone =
    s"""WITH g AS (
       |  SELECT CAST(gs.generate_series AS BIGINT) AS bucket_start
       |  FROM generate_series($T0, ${T1 - T1 % 3600L}, 3600) AS gs),
       |a AS (
       |  SELECT $tsS - ($tsS % 3600) AS bucket_start,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1)
       |SELECT g.bucket_start, COALESCE(a.v, 'NaN'::DOUBLE) AS result
       |FROM g LEFT JOIN a USING (bucket_start)
       |ORDER BY 1""".stripMargin

  /** `max by (cohort, user_id)(click) > on (cohort) group_left
    * avg by (cohort)(click)` — one-to-many projected compare: per-user
    * hourly max joined to the cohort-grain hourly average, keeping rows
    * that beat it (left value passes through as result).
    */
  private val tsdbPromqlCmpOn =
    s"""WITH a AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         CAST(user_id AS VARCHAR) AS user_id,
       |         $tsS - ($tsS % 3600) AS bucket_start,
       |         count(*) AS n_a,
       |         CAST(max(value) AS DOUBLE) AS sum_a
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1, 2, 3),
       |b AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS - ($tsS % 3600) AS bucket_start,
       |         count(*) AS n_b,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
       |           / count(*) AS sum_b
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1, 2)
       |SELECT a.cohort, a.user_id, a.bucket_start, n_a, n_b,
       |       sum_a, sum_b, sum_a AS result
       |FROM a JOIN b USING (cohort, bucket_start)
       |WHERE sum_a > sum_b
       |ORDER BY 1, 2, 3""".stripMargin

  /** `sum by (cohort)(rate(click[1h])) > sum by (cohort)
    * (rate(purchase[1h]))` — counter-family compare: two lag-pipeline
    * per-cohort rates joined on (cohort, bucket) and filtered.
    */
  private val tsdbPromqlCmpRate =
    s"""WITH e AS (
       |  SELECT event_type, user_id,
       |         CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type IN ('click', 'purchase')
       |    AND $tsS BETWEEN $T0 AND $T1),
       |d AS (
       |  SELECT *, lag(v) OVER (PARTITION BY event_type, user_id
       |                         ORDER BY ts_s, v) AS prev
       |  FROM e),
       |x AS (
       |  SELECT event_type, cohort, ts_s - (ts_s % 86400) AS bucket_start,
       |         CASE WHEN prev IS NULL THEN NULL
       |              WHEN v >= prev THEN v - prev
       |              ELSE v END AS delta
       |  FROM d),
       |r AS (
       |  SELECT event_type, cohort, bucket_start,
       |         round(CAST(SUM(delta) AS DOUBLE) / 86400, 6) AS rate
       |  FROM x WHERE delta IS NOT NULL
       |  GROUP BY 1, 2, 3)
       |SELECT a.cohort, a.bucket_start,
       |       a.rate AS sum_a, b.rate AS sum_b, a.rate AS result
       |FROM r a JOIN r b USING (cohort, bucket_start)
       |WHERE a.event_type = 'click' AND b.event_type = 'purchase'
       |  AND a.rate > b.rate
       |ORDER BY 1, 2""".stripMargin

  /** Standalone `time()` with an API step — the pure generate_series
    * grid, result = the bucket timestamp itself as a double.
    */
  private val tsdbPromqlTimeAlone =
    s"""SELECT CAST(gs.generate_series AS BIGINT) AS bucket_start,
       |       CAST(gs.generate_series AS DOUBLE) AS result
       |FROM generate_series($T0, ${T1 - T1 % 3600L}, 3600) AS gs
       |ORDER BY 1""".stripMargin

  /** `… > bool 55` — tsdbPromqlScalar's ratio chain, but the threshold
    * becomes a 0/1 indicator column instead of a row filter.
    */
  private val tsdbPromqlBool =
    s"""WITH a AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS - ($tsS % 3600) AS bucket_start,
       |         count(*) AS n_a,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_a
       |  FROM events
       |  WHERE event_type = 'purchase' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1, 2),
       |b AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS - ($tsS % 3600) AS bucket_start,
       |         count(*) AS n_b,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_b
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT a.cohort, a.bucket_start, n_a, n_b,
       |         round(sum_a / sum_b, 6) * 100 AS result
       |  FROM a JOIN b USING (cohort, bucket_start))
       |SELECT cohort, bucket_start, n_a, n_b,
       |       CAST(CASE WHEN result > 55 THEN 1.0 ELSE 0.0 END AS DOUBLE)
       |         AS result
       |FROM r
       |ORDER BY 1, 2""".stripMargin

  /** The purchase/click sides the vector-compare mirrors share with
    * tsdbRatio — two hourly label aggregations joined on
    * (cohort, bucket), decimal sums surfaced as doubles.
    */
  private val vvMatchCtes =
    s"""WITH a AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS - ($tsS % 3600) AS bucket_start,
       |         count(*) AS n_a,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_a
       |  FROM events
       |  WHERE event_type = 'purchase' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1, 2),
       |b AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS - ($tsS % 3600) AS bucket_start,
       |         count(*) AS n_b,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_b
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1, 2)""".stripMargin

  /** `a > bool b` vector match: every matched (cohort, bucket) row,
    * result CASE'd to Prometheus's 0/1. The compare is on
    * decimal-derived doubles — exact cross-engine.
    */
  private val tsdbPromqlBoolVv =
    s"""$vvMatchCtes
       |SELECT a.cohort, a.bucket_start, n_a, n_b,
       |       CAST(CASE WHEN sum_a > sum_b THEN 1.0 ELSE 0.0 END
       |            AS DOUBLE) AS result
       |FROM a JOIN b USING (cohort, bucket_start)
       |ORDER BY 1, 2""".stripMargin

  /** `a > b` filter form: only matched rows where the predicate holds,
    * the left value passing through as `result`.
    */
  private val tsdbPromqlCmpVv =
    s"""$vvMatchCtes
       |SELECT a.cohort, a.bucket_start, n_a, n_b, sum_a AS result
       |FROM a JOIN b USING (cohort, bucket_start)
       |WHERE sum_a > sum_b
       |ORDER BY 1, 2""".stripMargin

  /** `group by (cohort)` — 1.0 per populated (cohort, bucket) cell. */
  private val tsdbPromqlGroup =
    s"""SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |       $tsS - ($tsS % 3600) AS bucket_start,
       |       CAST(1.0 AS DOUBLE) AS group_v
       |FROM events
       |WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** `sort_desc(sum by (cohort)(click[1h]))` — tsdbAggBy reordered by
    * the value column descending; (cohort, bucket_start) completes the
    * deterministic total order exactly as the engine's tie-break does.
    */
  private val tsdbPromqlSort =
    s"""SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |       $tsS - ($tsS % 3600) AS bucket_start,
       |       count(*) AS n,
       |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
       |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_v,
       |       min(value) AS min_v, max(value) AS max_v
       |FROM events
       |WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |GROUP BY 1, 2 ORDER BY sum_v DESC, 1, 2""".stripMargin

  /** `hour(sum by (cohort)(click[1h]))` — tsdbAggBy plus the UTC hour of
    * each bucket as `result`, pure integer epoch arithmetic.
    */
  private val tsdbPromqlHour =
    s"""SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |       $tsS - ($tsS % 3600) AS bucket_start,
       |       count(*) AS n,
       |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
       |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_v,
       |       min(value) AS min_v, max(value) AS max_v,
       |       CAST(FLOOR((($tsS - ($tsS % 3600)) % 86400) / 3600) AS DOUBLE)
       |         AS result
       |FROM events
       |WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Shared shape of the scalar-arithmetic / pointwise-math promql
    * oracles: the sum-by-cohort hour grid with a parameterized `result`
    * expression over the DOUBLE-cast decimal sum (`SUMV` placeholder) —
    * mirrors what the compiled `withColumn("result", …)` rides on. The
    * double-only ops (`%` ^ atan2, trig) round to 6 decimals on BOTH
    * sides so libm ulp drift can't break the exact hash.
    */
  private def promqlAggResult(resultSql: String,
      lo: Long = T0, hi: Long = T1): String = {
    val sumv = "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)"
    val bucket = s"($tsS - ($tsS % 3600))"
    val res =
      if (resultSql.isEmpty) ""
      else ",\n       " + resultSql.replace("SUMV", sumv)
        .replace("BUCKET", bucket) + " AS result"
    s"""SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |       $tsS - ($tsS % 3600) AS bucket_start,
       |       count(*) AS n,
       |       $sumv AS sum_v,
       |       $sumv / count(*) AS avg_v,
       |       min(value) AS min_v, max(value) AS max_v$res
       |FROM events
       |WHERE event_type = 'click' AND $tsS BETWEEN $lo AND $hi
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  private val tsdbPromqlMod = promqlAggResult("round(fmod(SUMV, 7), 6)")
  private val tsdbPromqlPow = promqlAggResult("round(pow(SUMV, 2), 6)")
  private val tsdbPromqlAtan2 =
    promqlAggResult("round(atan2(SUMV, 100), 6)")
  // deg(atan(v)): each stage rounds, exactly as the compiler emits
  private val tsdbPromqlTrig =
    promqlAggResult("round(degrees(round(atan(SUMV), 6)), 6)")
  // `@ 1704682800` pins the single epoch-aligned [1h] bucket containing
  // that instant: [1704682800, 1704686399]
  private val tsdbPromqlAt =
    promqlAggResult("", lo = 1704682800L, hi = 1704686399L)

  // `… - time()`: the per-step scalar is the grid timestamp itself
  private val tsdbPromqlTime =
    promqlAggResult("SUMV - CAST(BUCKET AS DOUBLE)")

  // Alerting rule `sum by (cohort)(click[3600]) > 5` for 2h: active
  // steps are the thresholded hourly sums; gaps-and-islands (island key
  // = bucket - rn*step) finds consecutive runs per cohort; a step 2h or
  // more into its run is firing, earlier steps pending — Prometheus
  // `for` semantics on the batch grid
  private val tsdbAlertRule =
    s"""WITH a AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS - ($tsS % 3600) AS bucket_start,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1, 2
       |  HAVING CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) > 5),
       |r AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY cohort ORDER BY bucket_start) AS rn
       |  FROM a),
       |st AS (
       |  SELECT *, min(bucket_start) OVER (
       |    PARTITION BY cohort, bucket_start - rn * 3600) AS s0
       |  FROM r)
       |SELECT 'cohort_click_high' AS alertname, cohort, bucket_start,
       |       value,
       |       CASE WHEN bucket_start - s0 >= 7200 THEN 'firing'
       |            ELSE 'pending' END AS state
       |FROM st ORDER BY cohort, bucket_start""".stripMargin

  // without-resolved vector match on the heterogeneous grain: NULL
  // shard groups must match across sides (IS NOT DISTINCT FROM — PromQL
  // labelset identity; a plain equality join drops them)
  private val tsdbPromqlRatioWo =
    s"""WITH a AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         CASE WHEN user_id % 3 = 0
       |              THEN CAST(user_id % 2 AS VARCHAR) END AS shard,
       |         $tsS - ($tsS % 3600) AS bucket_start,
       |         count(*) AS n_a,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_a
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1, 2, 3),
       |b AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         CASE WHEN user_id % 3 = 0
       |              THEN CAST(user_id % 2 AS VARCHAR) END AS shard,
       |         $tsS - ($tsS % 3600) AS bucket_start,
       |         count(*) AS n_b,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_b
       |  FROM events
       |  WHERE event_type = 'view' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1, 2, 3)
       |SELECT a.cohort, a.shard, a.bucket_start, n_a, n_b,
       |       round(sum_a / sum_b, 6) AS result
       |FROM a JOIN b
       |  ON a.cohort = b.cohort
       |  AND a.shard IS NOT DISTINCT FROM b.shard
       |  AND a.bucket_start = b.bucket_start
       |ORDER BY a.cohort, a.shard NULLS FIRST, a.bucket_start""".stripMargin

  // `sum without (noise) (click[3600]) > 5`: the grouping resolves to
  // the label-key universe minus noise — (cohort, shard), shard NULL on
  // the two-thirds of series that lack it (DuckDB and Spark both group
  // NULLs together) — then the identical islands escalation
  private val tsdbAlertRuleWo =
    s"""WITH a AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         CASE WHEN user_id % 3 = 0
       |              THEN CAST(user_id % 2 AS VARCHAR) END AS shard,
       |         $tsS - ($tsS % 3600) AS bucket_start,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1, 2, 3
       |  HAVING CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) > 5),
       |r AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY cohort, shard ORDER BY bucket_start) AS rn
       |  FROM a),
       |st AS (
       |  SELECT *, min(bucket_start) OVER (
       |    PARTITION BY cohort, shard, bucket_start - rn * 3600) AS s0
       |  FROM r)
       |SELECT 'grain_click_high' AS alertname, cohort, shard,
       |       bucket_start, value,
       |       CASE WHEN bucket_start - s0 >= 7200 THEN 'firing'
       |            ELSE 'pending' END AS state
       |FROM st ORDER BY cohort, shard NULLS FIRST, bucket_start""".stripMargin

  // The SLO alert: p90 of per-series reset-robust rates, thresholded,
  // with the same gaps-and-islands `for` escalation as tsdbAlertRule
  private val tsdbAlertRuleQ =
    s"""WITH e AS (
       |  SELECT user_id, CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1),
       |d AS (
       |  SELECT *, lag(v) OVER (PARTITION BY user_id
       |                         ORDER BY ts_s, v) AS prev
       |  FROM e),
       |x AS (
       |  SELECT user_id, cohort, ts_s - (ts_s % 3600) AS bucket_start,
       |         CASE WHEN prev IS NULL THEN NULL
       |              WHEN v >= prev THEN v - prev
       |              ELSE v END AS delta
       |  FROM d),
       |s AS (
       |  SELECT user_id, cohort, bucket_start,
       |         CAST(SUM(delta) AS DOUBLE) AS inc
       |  FROM x WHERE delta IS NOT NULL
       |  GROUP BY 1, 2, 3),
       |a AS (
       |  SELECT cohort, bucket_start,
       |         round(quantile_cont(inc, 0.9) / 3600, 6) AS value
       |  FROM s GROUP BY 1, 2
       |  HAVING round(quantile_cont(inc, 0.9) / 3600, 6) > 0.005),
       |r AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY cohort ORDER BY bucket_start) AS rn
       |  FROM a),
       |st AS (
       |  SELECT *, min(bucket_start) OVER (
       |    PARTITION BY cohort, bucket_start - rn * 3600) AS s0
       |  FROM r)
       |SELECT 'cohort_click_p90' AS alertname, cohort, bucket_start,
       |       value,
       |       CASE WHEN bucket_start - s0 >= 7200 THEN 'firing'
       |            ELSE 'pending' END AS state
       |FROM st ORDER BY cohort, bucket_start""".stripMargin

  // Recording rule: the same hourly cohort sum, re-read back out of the
  // engine under its recorded metric name + static job label
  private val tsdbRecordingRule =
    s"""SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |       'rules' AS job,
       |       $tsS - ($tsS % 3600) AS bucket_start,
       |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
       |FROM events
       |WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |GROUP BY 1, 3 ORDER BY 1, 3""".stripMargin

  // Quantile recording rule: the p90-of-rates series, read back with
  // its static job label
  private val tsdbRecordingRuleQ =
    s"""WITH e AS (
       |  SELECT user_id, CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1),
       |d AS (
       |  SELECT *, lag(v) OVER (PARTITION BY user_id
       |                         ORDER BY ts_s, v) AS prev
       |  FROM e),
       |x AS (
       |  SELECT user_id, cohort, ts_s - (ts_s % 3600) AS bucket_start,
       |         CASE WHEN prev IS NULL THEN NULL
       |              WHEN v >= prev THEN v - prev
       |              ELSE v END AS delta
       |  FROM d),
       |s AS (
       |  SELECT user_id, cohort, bucket_start,
       |         CAST(SUM(delta) AS DOUBLE) AS inc
       |  FROM x WHERE delta IS NOT NULL
       |  GROUP BY 1, 2, 3)
       |SELECT cohort, 'rules' AS job, bucket_start,
       |       round(quantile_cont(inc, 0.9) / 3600, 6) AS q_rate
       |FROM s
       |GROUP BY 1, 3 ORDER BY 1, 3""".stripMargin

  // `sum(purchase[3600]) or vector(0)`: every hour of the window, zero
  // where no samples landed (the gap-filling idiom) — one row per grid
  // bucket, 168 at T0..T1
  private val tsdbPromqlOrVector =
    s"""WITH agg AS (
       |  SELECT $tsS - ($tsS % 3600) AS bucket_start,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
       |  FROM events
       |  WHERE event_type = 'purchase' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1)
       |SELECT g.bucket_start, COALESCE(a.sum_v, 0.0) AS sum_v
       |FROM generate_series($T0 - ($T0 % 3600), $T1 - ($T1 % 3600), 3600)
       |  g(bucket_start)
       |LEFT JOIN agg a USING (bucket_start)
       |ORDER BY 1""".stripMargin

  /** scalar() share-of-total mirror: the cohort grid joined against the
    * global per-bucket sum, divided with the `/`-family rounding. */
  private val tsdbPromqlShare =
    s"""WITH g AS (
       |  SELECT $tsS - ($tsS % 3600) AS bucket_start,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1)
       |SELECT c.cohort, c.bucket_start, c.n, c.sum_v, c.avg_v, c.min_v,
       |       c.max_v, round(c.sum_v / g.total, 6) AS result
       |FROM (${promqlAggResult("")}) c JOIN g USING (bucket_start)
       |ORDER BY c.cohort, c.bucket_start""".stripMargin

  /** holt_winters mirror: the over_time grid join, samples numbered in
    * (ts, value) order per (series, eval point), then Prometheus's
    * recurrence replayed by a recursive CTE with the IDENTICAL double
    * op order as the engine's fold (Tsdb.holtWintersBy scaladoc);
    * sf = tf = 0.5 spelled as the exact literal on both sides. */
  private val tsdbPromqlHolt =
    overTimeCtes().replaceFirst("^WITH ", "WITH RECURSIVE ") +
    s""",
       |w AS (
       |  SELECT cohort, user_id, eval_ts, value,
       |         row_number() OVER (PARTITION BY cohort, user_id, eval_ts
       |                            ORDER BY ts_s, value) - 1 AS idx,
       |         count(*) OVER (PARTITION BY cohort, user_id, eval_ts) AS n
       |  FROM j),
       |r AS (
       |  SELECT w0.cohort, w0.user_id, w0.eval_ts, w0.n, 0 AS i,
       |         CAST(w0.value AS DOUBLE) AS s,
       |         CAST(w1.value AS DOUBLE) - CAST(w0.value AS DOUBLE) AS b
       |  FROM w w0 JOIN w w1
       |    ON w1.cohort = w0.cohort AND w1.user_id = w0.user_id
       |   AND w1.eval_ts = w0.eval_ts AND w0.idx = 0 AND w1.idx = 1
       |  UNION ALL
       |  SELECT r.cohort, r.user_id, r.eval_ts, r.n, r.i + 1,
       |         0.5 * CAST(w.value AS DOUBLE) + 0.5 * (r.s + r.b) AS s,
       |         0.5 * (0.5 * CAST(w.value AS DOUBLE) + 0.5 * (r.s + r.b)
       |                - r.s) + 0.5 * r.b AS b
       |  FROM r JOIN w
       |    ON w.cohort = r.cohort AND w.user_id = r.user_id
       |   AND w.eval_ts = r.eval_ts AND w.idx = r.i + 1)
       |SELECT cohort, user_id, eval_ts, n, round(s, 6) AS hw_v
       |FROM r WHERE i = n - 1
       |ORDER BY cohort, user_id, eval_ts""".stripMargin

  /** `quantile by (cohort)(0.9, rate(click[1h]))` — tsdbAggIncrease's
    * per-series positive-delta chain aggregated to per-(series, bucket)
    * increases, then the continuous p90 across series; the rate column
    * divides the SAME percentile by the step (quantile is monotone).
    */
  private val tsdbPromqlQuantileRate =
    s"""WITH e AS (
       |  SELECT user_id, CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1),
       |d AS (
       |  SELECT *, lag(v) OVER (PARTITION BY user_id
       |                         ORDER BY ts_s, v) AS prev
       |  FROM e),
       |x AS (
       |  SELECT user_id, cohort, ts_s - (ts_s % 3600) AS bucket_start,
       |         CASE WHEN prev IS NULL THEN NULL
       |              WHEN v >= prev THEN v - prev
       |              ELSE v END AS delta
       |  FROM d),
       |s AS (
       |  SELECT user_id, cohort, bucket_start,
       |         CAST(SUM(delta) AS DOUBLE) AS inc
       |  FROM x WHERE delta IS NOT NULL
       |  GROUP BY 1, 2, 3)
       |SELECT cohort, bucket_start,
       |       count(*) AS n_series,
       |       round(quantile_cont(inc, 0.9), 6) AS q_increase,
       |       round(quantile_cont(inc, 0.9) / 3600, 6) AS q_rate
       |FROM s
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Shared CTE chain for the counterOverFrame pairwise mirrors: the
    * subquery_rate inner (`ie`: cohort, ets, floor-r6 rate on the 1h
    * grid over the or-extended span) plus its per-cohort lag (`lg`).
    * Pairwise outers join `lg` to the outer grid on the NEWER end and
    * pin pairs whose OLDER end is in the window too (pt > T − or),
    * mirroring Tsdb.counterOverFrame's range-vector rule; the decimal
    * casts reproduce the engine's lossless decimal(28,10) delta
    * arithmetic over the 6-decimal-quantized inner values. */
  private def counterOverFramePair(select: String, having: String): String = {
    val ir = 3600L; val or = 21600L; val st = 3600L
    val innerLo = (T0 - or + st - 1) / st * st
    val hi = T1 / st * st
    val outerLo = (T0 + st - 1) / st * st
    s"""WITH e AS (
       |  SELECT user_id, CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click'
       |    AND $tsS BETWEEN ${T0 - or - ir + 1} AND $T1),
       |d AS (
       |  SELECT *, lag(v) OVER (PARTITION BY user_id
       |                         ORDER BY ts_s, v) AS prev
       |  FROM e),
       |x AS (
       |  SELECT cohort, ts_s,
       |         CASE WHEN prev IS NULL THEN NULL
       |              WHEN v >= prev THEN v - prev
       |              ELSE v END AS delta
       |  FROM d),
       |ie AS (
       |  SELECT cohort, g.e AS ets,
       |         floor(CAST(SUM(delta) AS DOUBLE) / $ir * 1e6 + 0.5) / 1e6 AS rate
       |  FROM x JOIN generate_series($innerLo, $hi, $st) AS g(e)
       |    ON x.ts_s BETWEEN g.e - $ir + 1 AND g.e
       |  WHERE delta IS NOT NULL
       |  GROUP BY 1, 2),
       |lg AS (
       |  SELECT cohort, ets,
       |         CAST(rate AS DECIMAL(28,10)) AS cv,
       |         lag(CAST(rate AS DECIMAL(28,10)))
       |           OVER (PARTITION BY cohort ORDER BY ets) AS pv,
       |         lag(ets) OVER (PARTITION BY cohort ORDER BY ets) AS pt
       |  FROM ie),
       |j AS (
       |  SELECT lg.*, t.t AS eval_ts,
       |         (pt IS NOT NULL AND pt > t.t - $or) AS pin
       |  FROM lg JOIN generate_series($outerLo, $hi, $st) AS t(t)
       |    ON lg.ets BETWEEN t.t - $or + 1 AND t.t)
       |$select
       |$having
       |ORDER BY cohort, eval_ts""".stripMargin
  }

  /** `increase(sum by (cohort)(rate(click[1h]))[6h:1h])` — pairwise
    * reset-adjusted delta sum over pinned pairs; increase is the exact
    * decimal sum cast double, rate_per_sec its floor-r6 per-second
    * form (the engine's counterOverFrame rate/increase leg). Integer
    * outputs MUST be cast BIGINT: DuckDB SUM(int) is HUGEINT, which
    * pandas renders as float64 ("7.0" vs the engine's "7") and the
    * driver's canonical hash diverges on it (the r15 gate failure). */
  private val tsdbPromqlSubqueryIncrRate = counterOverFramePair(
    s"""SELECT cohort, eval_ts,
       |  CAST(SUM(CASE WHEN pin THEN 1 ELSE 0 END) AS BIGINT) AS n_deltas,
       |  CAST(SUM(CASE WHEN pin THEN
       |    CASE WHEN cv >= pv THEN cv - pv ELSE cv END END)
       |    AS DOUBLE) AS increase,
       |  floor(CAST(SUM(CASE WHEN pin THEN
       |    CASE WHEN cv >= pv THEN cv - pv ELSE cv END END)
       |    AS DOUBLE) / 21600 * 1e6 + 0.5) / 1e6 AS rate_per_sec
       |FROM j GROUP BY 1, 2""".stripMargin,
    "HAVING SUM(CASE WHEN pin THEN 1 ELSE 0 END) >= 1")

  /** `irate(sum by (cohort)(rate(click[1h]))[6h:1h])` — the newest
    * pinned pair per (cohort, window): idelta the raw decimal
    * difference, irate the reset-adjusted difference over the pair's
    * timestamp gap, floor-r6 (counterOverFrame's max-struct leg; ties
    * impossible at one inner row per (cohort, ets)). */
  private val tsdbPromqlSubqueryIrateRate = counterOverFramePair(
    s"""SELECT cohort, eval_ts,
       |  CAST(dv AS DOUBLE) AS idelta,
       |  CASE WHEN dt > 0
       |       THEN floor(CAST(dc AS DOUBLE) / CAST(dt AS DOUBLE)
       |         * 1e6 + 0.5) / 1e6 END AS irate
       |FROM (
       |  SELECT cohort, eval_ts, cv - pv AS dv,
       |         CASE WHEN cv >= pv THEN cv - pv ELSE cv END AS dc,
       |         ets - pt AS dt,
       |         row_number() OVER (PARTITION BY cohort, eval_ts
       |                            ORDER BY ets DESC) AS rk
       |  FROM j WHERE pin)
       |WHERE rk = 1""".stripMargin,
    "")

  /** Depth-2 subquery mirror — `max_over_time(rate(click[2h:30m]) by
    * (cohort) [6h:2h])`: with aligned grids (30m | 2h) the inner's
    * pinned step is value-inert under the engine's raw-window sliding
    * convention, so the mirror is the subquery_rate CTE chain at
    * ir=7200, or=21600, st=7200 — inner floor-r6 rate per cohort at
    * every 2h point over (E−2h, E], outer max over (T−6h, T]. */
  private val tsdbPromqlSubsub = {
    val ir = 7200L; val or = 21600L; val st = 7200L
    val innerLo = (T0 - or + st - 1) / st * st
    val hi = T1 / st * st
    val outerLo = (T0 + st - 1) / st * st
    s"""WITH e AS (
       |  SELECT user_id, CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click'
       |    AND $tsS BETWEEN ${T0 - or - ir + 1} AND $T1),
       |d AS (
       |  SELECT *, lag(v) OVER (PARTITION BY user_id
       |                         ORDER BY ts_s, v) AS prev
       |  FROM e),
       |x AS (
       |  SELECT cohort, ts_s,
       |         CASE WHEN prev IS NULL THEN NULL
       |              WHEN v >= prev THEN v - prev
       |              ELSE v END AS delta
       |  FROM d),
       |ie AS (
       |  SELECT cohort, g.e AS ets,
       |         floor(CAST(SUM(delta) AS DOUBLE) / $ir * 1e6 + 0.5) / 1e6 AS rate
       |  FROM x JOIN generate_series($innerLo, $hi, $st) AS g(e)
       |    ON x.ts_s BETWEEN g.e - $ir + 1 AND g.e
       |  WHERE delta IS NOT NULL
       |  GROUP BY 1, 2)
       |SELECT cohort, t.t AS eval_ts, max(rate) AS max_v
       |FROM ie JOIN generate_series($outerLo, $hi, $st) AS t(t)
       |  ON ie.ets BETWEEN t.t - $or + 1 AND t.t
       |GROUP BY 1, 2 ORDER BY cohort, eval_ts""".stripMargin
  }

  /** Depth-3 mirror — `avg_over_time(max_over_time(sum by (cohort)
    * (rate(click[1h]))[6h:1h])[1d:6h])`. Three levels: the sliding
    * cohort rate at the 1h grid (floor-r6, the sliding contract), the
    * six-hourly peak via a window join at the 6h grid over the extended
    * span [T0−1d, T1], and the daily average of those peaks at the 6h
    * grid — DECIMAL(28,10) accumulation mirroring overTimeOnFrame's
    * exact sum before the single double division.
    */
  private val tsdbPromqlSub3 = {
    val ir = 3600L; val r2 = 21600L; val st2 = 3600L
    val r3 = 86400L; val st3 = 21600L
    val innerLo = (T0 - r3 - r2 + st2 - 1) / st2 * st2
    val hi2 = T1 / st2 * st2
    val midLo = (T0 - r3 + st3 - 1) / st3 * st3
    val hi3 = T1 / st3 * st3
    val topLo = (T0 + st3 - 1) / st3 * st3
    s"""WITH e AS (
       |  SELECT user_id, CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click'
       |    AND $tsS BETWEEN ${T0 - r3 - r2 - ir + 1} AND $T1),
       |d AS (
       |  SELECT *, lag(v) OVER (PARTITION BY user_id
       |                         ORDER BY ts_s, v) AS prev
       |  FROM e),
       |x AS (
       |  SELECT cohort, ts_s,
       |         CASE WHEN prev IS NULL THEN NULL
       |              WHEN v >= prev THEN v - prev
       |              ELSE v END AS delta
       |  FROM d),
       |ie AS (
       |  SELECT cohort, g.e AS ets,
       |         floor(CAST(SUM(delta) AS DOUBLE) / $ir * 1e6 + 0.5) / 1e6 AS rate
       |  FROM x JOIN generate_series($innerLo, $hi2, $st2) AS g(e)
       |    ON x.ts_s BETWEEN g.e - $ir + 1 AND g.e
       |  WHERE delta IS NOT NULL
       |  GROUP BY 1, 2),
       |mid AS (
       |  SELECT cohort, g2.m AS mts, max(rate) AS mx
       |  FROM ie JOIN generate_series($midLo, $hi3, $st3) AS g2(m)
       |    ON ie.ets BETWEEN g2.m - $r2 + 1 AND g2.m
       |  GROUP BY 1, 2)
       |SELECT cohort, t.t AS eval_ts, count(*) AS n,
       |       CAST(SUM(CAST(mx AS DECIMAL(28,10))) AS DOUBLE) / count(*)
       |         AS avg_v
       |FROM mid JOIN generate_series($topLo, $hi3, $st3) AS t(t)
       |  ON mid.mts BETWEEN t.t - $r3 + 1 AND t.t
       |GROUP BY 1, 2 ORDER BY cohort, eval_ts""".stripMargin
  }

  /** Nested-subquery mirror — `max_over_time(rate(click[1h]) by (cohort)
    * [6h:1h])`. Inner: sliding reset-robust increase per cohort at every
    * 1h grid point E over window [E-3600+1, E] (lag computed over the
    * SAME scanned span the engine scans: [T0-6h-1h+1, T1]); outer: max of
    * those rates over [T-21600+1, T] for T on the 1h grid inside
    * [T0, T1]. Grid bounds are precomputed (all aligned here).
    */
  private val tsdbPromqlSubqueryRate = {
    val ir = 3600L; val or = 21600L; val st = 3600L
    val innerLo = (T0 - or + st - 1) / st * st // ceil((T0-or)/st)*st
    val hi = T1 / st * st
    val outerLo = (T0 + st - 1) / st * st
    s"""WITH e AS (
       |  SELECT user_id, CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click'
       |    AND $tsS BETWEEN ${T0 - or - ir + 1} AND $T1),
       |d AS (
       |  SELECT *, lag(v) OVER (PARTITION BY user_id
       |                         ORDER BY ts_s, v) AS prev
       |  FROM e),
       |x AS (
       |  SELECT cohort, ts_s,
       |         CASE WHEN prev IS NULL THEN NULL
       |              WHEN v >= prev THEN v - prev
       |              ELSE v END AS delta
       |  FROM d),
       |ie AS (
       |  SELECT cohort, g.e AS ets,
       |         floor(CAST(SUM(delta) AS DOUBLE) / $ir * 1e6 + 0.5) / 1e6 AS rate
       |  FROM x JOIN generate_series($innerLo, $hi, $st) AS g(e)
       |    ON x.ts_s BETWEEN g.e - $ir + 1 AND g.e
       |  WHERE delta IS NOT NULL
       |  GROUP BY 1, 2)
       |SELECT cohort, t.t AS eval_ts, max(rate) AS max_v
       |FROM ie JOIN generate_series($outerLo, $hi, $st) AS t(t)
       |  ON ie.ets BETWEEN t.t - $or + 1 AND t.t
       |GROUP BY 1, 2 ORDER BY cohort, eval_ts""".stripMargin
  }

  /** Sliding-rate mirror — `rate(click[6h:1h]) by (cohort)`: the
    * subquery_rate scheme with ONE grid (the [range:step] selector form
    * has no outer aggregation): reset-robust delta sums per cohort over
    * (E−21600, E] at every 1h grid point E; lag over the engine's
    * scanned span [T0−21600+1, T1]. */
  private val tsdbPromqlSubqueryRateOuter = {
    val r = 21600L; val st = 3600L
    val lo = (T0 + st - 1) / st * st
    val hi = T1 / st * st
    s"""WITH e AS (
       |  SELECT user_id, CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click'
       |    AND $tsS BETWEEN ${T0 - r + 1} AND $T1),
       |d AS (
       |  SELECT *, lag(v) OVER (PARTITION BY user_id
       |                         ORDER BY ts_s, v) AS prev
       |  FROM e),
       |x AS (
       |  SELECT cohort, ts_s,
       |         CASE WHEN prev IS NULL THEN NULL
       |              WHEN v >= prev THEN v - prev
       |              ELSE v END AS delta
       |  FROM d)
       |SELECT cohort, g.e AS eval_ts,
       |       floor(CAST(SUM(delta) AS DOUBLE) / $r * 1e6 + 0.5) / 1e6
       |         AS rate_per_sec
       |FROM x JOIN generate_series($lo, $hi, $st) AS g(e)
       |  ON x.ts_s BETWEEN g.e - $r + 1 AND g.e
       |WHERE delta IS NOT NULL
       |GROUP BY 1, 2 ORDER BY cohort, eval_ts""".stripMargin
  }

  /** Sliding regression mirrors — `deriv(click[6h:1h])` /
    * `predict_linear(click[6h:1h], 1h)`: the tsdbPredictLinear
    * HUGEINT least-squares sums per (cohort, window), x re-origined to
    * each window's start (ts − (E − 21600)), predicted at
    * xp = 21600 + 3600 past the window origin. */
  private def slidingRegression(predicted: Boolean): String = {
    val r = 21600L; val st = 3600L
    val lo = (T0 + st - 1) / st * st
    val hi = T1 / st * st
    val xp = r + 3600L
    val predCol =
      if (!predicted) ""
      else s""",
         |       CAST(syc*den + numc*(n*CAST($xp AS HUGEINT) - sx)
         |            AS DOUBLE)
         |         / CAST(n*den AS DOUBLE) / 100.0 AS predicted"""
        .stripMargin
    s"""WITH e AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click'
       |    AND $tsS BETWEEN ${T0 - r + 1} AND $T1),
       |w AS (
       |  SELECT cohort, g.e AS eval_ts,
       |         CAST(ts_s - (g.e - $r) AS HUGEINT) AS x,
       |         CAST(v * 100 AS HUGEINT) AS yc
       |  FROM e JOIN generate_series($lo, $hi, $st) AS g(e)
       |    ON e.ts_s BETWEEN g.e - $r + 1 AND g.e),
       |a AS (
       |  SELECT cohort, eval_ts, CAST(count(*) AS HUGEINT) AS n,
       |         SUM(x) AS sx, SUM(yc) AS syc,
       |         SUM(x*yc) AS sxyc, SUM(x*x) AS sxx
       |  FROM w GROUP BY 1, 2),
       |b AS (
       |  SELECT *, n*sxyc - sx*syc AS numc, n*sxx - sx*sx AS den
       |  FROM a)
       |SELECT cohort, eval_ts, CAST(n AS BIGINT) AS n,
       |       CAST(numc AS DOUBLE) / CAST(den AS DOUBLE) / 100.0
       |         AS slope_per_sec$predCol
       |FROM b WHERE n >= 2 AND den <> 0
       |ORDER BY cohort, eval_ts""".stripMargin
  }
  private val tsdbPromqlSubqueryDeriv = slidingRegression(false)
  private val tsdbPromqlSubqueryPredict = slidingRegression(true)

  /** Sliding resets/changes mirrors — the tsdbResets lag chain with the
    * sliding counter delta-attribution rule (a pair belongs to every
    * window containing its newer sample's ts). */
  private def slidingResetsChanges(changes: Boolean): String = {
    val r = 21600L; val st = 3600L
    val lo = (T0 + st - 1) / st * st
    val hi = T1 / st * st
    val (cmp, name) = if (changes) ("<>", "changes") else ("<", "resets")
    s"""WITH e AS (
       |  SELECT user_id, CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click'
       |    AND $tsS BETWEEN ${T0 - r + 1} AND $T1),
       |d AS (
       |  SELECT *, lag(v) OVER (PARTITION BY user_id
       |                         ORDER BY ts_s, v) AS prev
       |  FROM e)
       |SELECT cohort, g.e AS eval_ts, count(*) AS n_deltas,
       |       CAST(SUM(CASE WHEN v $cmp prev THEN 1 ELSE 0 END)
       |            AS BIGINT) AS $name
       |FROM d JOIN generate_series($lo, $hi, $st) AS g(e)
       |  ON d.ts_s BETWEEN g.e - $r + 1 AND g.e
       |WHERE prev IS NOT NULL
       |GROUP BY 1, 2 ORDER BY cohort, eval_ts""".stripMargin
  }
  private val tsdbPromqlSubqueryResets = slidingResetsChanges(false)
  private val tsdbPromqlSubqueryChanges = slidingResetsChanges(true)

  /** Sliding gauge-delta mirror — `delta(click[6h:1h])`: last − first
    * sample per (cohort, window); the struct-ordered endpoints are
    * max/min over (ts, v) pairs, the same lexicographic compare Spark's
    * max(struct(ts, v)) performs. */
  private val tsdbPromqlSubqueryDelta = {
    val r = 21600L; val st = 3600L
    val lo = (T0 + st - 1) / st * st
    val hi = T1 / st * st
    s"""WITH e AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click'
       |    AND $tsS BETWEEN ${T0 - r + 1} AND $T1)
       |SELECT cohort, g.e AS eval_ts, count(*) AS n,
       |       CAST((max(struct_pack(t := ts_s, w := v)).w -
       |             min(struct_pack(t := ts_s, w := v)).w)
       |            AS DOUBLE) AS delta
       |FROM e JOIN generate_series($lo, $hi, $st) AS g(e)
       |  ON e.ts_s BETWEEN g.e - $r + 1 AND g.e
       |GROUP BY 1, 2 ORDER BY cohort, eval_ts""".stripMargin
  }

  /** Gauge-smoothing subquery mirror — `max_over_time(avg_over_time(
    * click[1h]) by (cohort)[6h:1h])`: inner hourly DECIMAL-mean per
    * cohort at every 1h grid point over (E-3600, E], outer max of those
    * means over (T-21600, T]. */
  private val tsdbPromqlSubqueryGauge = {
    val ir = 3600L; val or = 21600L; val st = 3600L
    val innerLo = (T0 - or + st - 1) / st * st
    val hi = T1 / st * st
    val outerLo = (T0 + st - 1) / st * st
    s"""WITH e AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click'
       |    AND $tsS BETWEEN ${T0 - or - ir + 1} AND $T1),
       |ie AS (
       |  SELECT cohort, g.e AS ets,
       |         floor(CAST(SUM(v) AS DOUBLE) / count(*) * 1e6 + 0.5)
       |           / 1e6 AS avg_v
       |  FROM e JOIN generate_series($innerLo, $hi, $st) AS g(e)
       |    ON e.ts_s BETWEEN g.e - $ir + 1 AND g.e
       |  GROUP BY 1, 2)
       |SELECT cohort, t.t AS eval_ts, max(avg_v) AS max_v
       |FROM ie JOIN generate_series($outerLo, $hi, $st) AS t(t)
       |  ON ie.ets BETWEEN t.t - $or + 1 AND t.t
       |GROUP BY 1, 2 ORDER BY cohort, eval_ts""".stripMargin
  }

  /** Subquery-offset mirror — `max_over_time(rate(click[1h]) by (cohort)
    * [6h:1h] offset 1d)` on [T0+1d, T1]: identical to the subquery_rate
    * mirror evaluated on the 1d-back window, with every output timestamp
    * shifted forward by the offset. */
  private val tsdbPromqlSubqueryOffset = {
    val ir = 3600L; val or = 21600L; val st = 3600L; val off = 86400L
    val s0 = (T0 + off) - off // = T0: engine evaluates [start-off, end-off]
    val e0 = T1 - off
    val innerLo = (s0 - or + st - 1) / st * st
    val hi = e0 / st * st
    val outerLo = (s0 + st - 1) / st * st
    s"""WITH e AS (
       |  SELECT user_id, CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click'
       |    AND $tsS BETWEEN ${s0 - or - ir + 1} AND $e0),
       |d AS (
       |  SELECT *, lag(v) OVER (PARTITION BY user_id
       |                         ORDER BY ts_s, v) AS prev
       |  FROM e),
       |x AS (
       |  SELECT cohort, ts_s,
       |         CASE WHEN prev IS NULL THEN NULL
       |              WHEN v >= prev THEN v - prev
       |              ELSE v END AS delta
       |  FROM d),
       |ie AS (
       |  SELECT cohort, g.e AS ets,
       |         floor(CAST(SUM(delta) AS DOUBLE) / $ir * 1e6 + 0.5) / 1e6 AS rate
       |  FROM x JOIN generate_series($innerLo, $hi, $st) AS g(e)
       |    ON x.ts_s BETWEEN g.e - $ir + 1 AND g.e
       |  WHERE delta IS NOT NULL
       |  GROUP BY 1, 2)
       |SELECT cohort, t.t + $off AS eval_ts, max(rate) AS max_v
       |FROM ie JOIN generate_series($outerLo, $hi, $st) AS t(t)
       |  ON ie.ets BETWEEN t.t - $or + 1 AND t.t
       |GROUP BY 1, 2 ORDER BY cohort, eval_ts""".stripMargin
  }

  /** Quantile subquery mirror — `quantile_over_time(0.9,
    * rate(click[1h]) by (cohort)[6h:1h])`: the same inner sliding-rate
    * CTE as the subquery_rate mirror; the outer quantile_cont matches
    * Spark's exact linear-interpolation Percentile (parity established
    * by the quantile rule oracles), both sides rounding the rate to 6
    * before interpolating and the result to 6 after. */
  private val tsdbPromqlSubqueryQuant = {
    val ir = 3600L; val or = 21600L; val st = 3600L
    val innerLo = (T0 - or + st - 1) / st * st
    val hi = T1 / st * st
    val outerLo = (T0 + st - 1) / st * st
    s"""WITH e AS (
       |  SELECT user_id, CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click'
       |    AND $tsS BETWEEN ${T0 - or - ir + 1} AND $T1),
       |d AS (
       |  SELECT *, lag(v) OVER (PARTITION BY user_id
       |                         ORDER BY ts_s, v) AS prev
       |  FROM e),
       |x AS (
       |  SELECT cohort, ts_s,
       |         CASE WHEN prev IS NULL THEN NULL
       |              WHEN v >= prev THEN v - prev
       |              ELSE v END AS delta
       |  FROM d),
       |ie AS (
       |  SELECT cohort, g.e AS ets,
       |         floor(CAST(SUM(delta) AS DOUBLE) / $ir * 1e6 + 0.5) / 1e6 AS rate
       |  FROM x JOIN generate_series($innerLo, $hi, $st) AS g(e)
       |    ON x.ts_s BETWEEN g.e - $ir + 1 AND g.e
       |  WHERE delta IS NOT NULL
       |  GROUP BY 1, 2)
       |SELECT cohort, t.t AS eval_ts,
       |       round(quantile_cont(rate, 0.9), 6) AS q_v
       |FROM ie JOIN generate_series($outerLo, $hi, $st) AS t(t)
       |  ON ie.ets BETWEEN t.t - $or + 1 AND t.t
       |GROUP BY 1, 2 ORDER BY cohort, eval_ts""".stripMargin
  }

  /** MAD subquery mirror — `mad_over_time(rate(click[1h]) by (cohort)
    * [6h:1h])`: the same inner sliding-rate CTE; the outer window-set
    * median comes from a quantile_cont window over (cohort, outer eval),
    * the deviation median from quantile_cont in the final aggregation —
    * the exact engine op order (window percentile → abs → percentile),
    * tie-free floor-rounded on both sides.
    */
  private val tsdbPromqlSubqueryMad = {
    val ir = 3600L; val or = 21600L; val st = 3600L
    val innerLo = (T0 - or + st - 1) / st * st
    val hi = T1 / st * st
    val outerLo = (T0 + st - 1) / st * st
    s"""WITH e AS (
       |  SELECT user_id, CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click'
       |    AND $tsS BETWEEN ${T0 - or - ir + 1} AND $T1),
       |d AS (
       |  SELECT *, lag(v) OVER (PARTITION BY user_id
       |                         ORDER BY ts_s, v) AS prev
       |  FROM e),
       |x AS (
       |  SELECT cohort, ts_s,
       |         CASE WHEN prev IS NULL THEN NULL
       |              WHEN v >= prev THEN v - prev
       |              ELSE v END AS delta
       |  FROM d),
       |ie AS (
       |  SELECT cohort, g.e AS ets,
       |         floor(CAST(SUM(delta) AS DOUBLE) / $ir * 1e6 + 0.5) / 1e6 AS rate
       |  FROM x JOIN generate_series($innerLo, $hi, $st) AS g(e)
       |    ON x.ts_s BETWEEN g.e - $ir + 1 AND g.e
       |  WHERE delta IS NOT NULL
       |  GROUP BY 1, 2),
       |w AS (
       |  SELECT cohort, t.t AS eval_ts, rate,
       |         quantile_cont(rate, 0.5)
       |           OVER (PARTITION BY cohort, t.t) AS med
       |  FROM ie JOIN generate_series($outerLo, $hi, $st) AS t(t)
       |    ON ie.ets BETWEEN t.t - $or + 1 AND t.t)
       |SELECT cohort, eval_ts,
       |       floor(quantile_cont(abs(rate - med), 0.5) * 1e6 + 0.5) / 1e6
       |         AS mad_v
       |FROM w GROUP BY 1, 2 ORDER BY cohort, eval_ts""".stripMargin
  }

  /** Canonical aggregated-inner subquery mirror —
    * `avg_over_time(sum by (cohort) (rate(click[1h]))[6h:2h])`. Inner:
    * the same sliding reset-robust increase per cohort as the
    * subquery_rate mirror, on the 2h subquery grid; outer: the DECIMAL
    * mean of those rates over [T-21600+1, T] for T on the 2h grid —
    * cast orders mirror the engine's overTimeOnFrame (decimal(28,10)
    * sum → double ÷ exact count).
    */
  private val tsdbPromqlSubqueryAggsum = {
    val ir = 3600L; val or = 21600L; val st = 7200L
    val innerLo = (T0 - or + st - 1) / st * st // ceil((T0-or)/st)*st
    val hi = T1 / st * st
    val outerLo = (T0 + st - 1) / st * st
    s"""WITH e AS (
       |  SELECT user_id, CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click'
       |    AND $tsS BETWEEN ${T0 - or - ir + 1} AND $T1),
       |d AS (
       |  SELECT *, lag(v) OVER (PARTITION BY user_id
       |                         ORDER BY ts_s, v) AS prev
       |  FROM e),
       |x AS (
       |  SELECT cohort, ts_s,
       |         CASE WHEN prev IS NULL THEN NULL
       |              WHEN v >= prev THEN v - prev
       |              ELSE v END AS delta
       |  FROM d),
       |ie AS (
       |  SELECT cohort, g.e AS ets,
       |         floor(CAST(SUM(delta) AS DOUBLE) / $ir * 1e6 + 0.5) / 1e6 AS rate
       |  FROM x JOIN generate_series($innerLo, $hi, $st) AS g(e)
       |    ON x.ts_s BETWEEN g.e - $ir + 1 AND g.e
       |  WHERE delta IS NOT NULL
       |  GROUP BY 1, 2)
       |SELECT cohort, t.t AS eval_ts,
       |       CAST(SUM(CAST(rate AS DECIMAL(28,10))) AS DOUBLE)
       |         / count(*) AS avg_v
       |FROM ie JOIN generate_series($outerLo, $hi, $st) AS t(t)
       |  ON ie.ets BETWEEN t.t - $or + 1 AND t.t
       |GROUP BY 1, 2 ORDER BY cohort, eval_ts""".stripMargin
  }

  /** Moment-aggregated-inner subquery mirror — `max_over_time(avg by
    * (cohort)(rate(click[1h]))[6h:1h])`. Inner: the per-SERIES sliding
    * rate (lag partitioned by user_id ≡ sid, the same scanned span),
    * then the cross-series DECIMAL mean per (cohort, eval point) in the
    * engine's op order (decimal(28,10) sum → double ÷ exact count);
    * outer: max of those means over the 6h lookback.
    */
  private val tsdbPromqlSubqueryMoment = {
    val ir = 3600L; val or = 21600L; val st = 3600L
    val innerLo = (T0 - or + st - 1) / st * st
    val hi = T1 / st * st
    val outerLo = (T0 + st - 1) / st * st
    s"""WITH e AS (
       |  SELECT user_id, CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click'
       |    AND $tsS BETWEEN ${T0 - or - ir + 1} AND $T1),
       |d AS (
       |  SELECT *, lag(v) OVER (PARTITION BY user_id
       |                         ORDER BY ts_s, v) AS prev
       |  FROM e),
       |x AS (
       |  SELECT user_id, cohort, ts_s,
       |         CASE WHEN prev IS NULL THEN NULL
       |              WHEN v >= prev THEN v - prev
       |              ELSE v END AS delta
       |  FROM d),
       |ps AS (
       |  SELECT user_id, cohort, g.e AS ets,
       |         floor(CAST(SUM(delta) AS DOUBLE) / $ir * 1e6 + 0.5) / 1e6 AS rate
       |  FROM x JOIN generate_series($innerLo, $hi, $st) AS g(e)
       |    ON x.ts_s BETWEEN g.e - $ir + 1 AND g.e
       |  WHERE delta IS NOT NULL
       |  GROUP BY 1, 2, 3),
       |im AS (
       |  SELECT cohort, ets,
       |         floor(CAST(SUM(CAST(rate AS DECIMAL(28,10))) AS DOUBLE)
       |           / count(*) * 1e6 + 0.5) / 1e6 AS avg_v
       |  FROM ps GROUP BY 1, 2)
       |SELECT cohort, t.t AS eval_ts, max(avg_v) AS max_v
       |FROM im JOIN generate_series($outerLo, $hi, $st) AS t(t)
       |  ON im.ets BETWEEN t.t - $or + 1 AND t.t
       |GROUP BY 1, 2 ORDER BY cohort, eval_ts""".stripMargin
  }

  /** Spread-outer subquery mirror — `stddev_over_time(rate(click[1h])
    * by (cohort)[6h:1h])`: the same inner sliding-rate CTE as the
    * subquery_rate mirror, then the engine's integer-micro spread
    * scheme per 6h lookback — the 6-decimal-quantized rate scales
    * losslessly to BIGINT micros, HUGEINT squares, and the double op
    * order mirrors Tsdb.overTimeOnFrame exactly:
    * sqrt((sum2/n - (sum/n)^2) / 1e12), rounded to 6.
    */
  private val tsdbPromqlSubquerySpread = {
    val ir = 3600L; val or = 21600L; val st = 3600L
    val innerLo = (T0 - or + st - 1) / st * st
    val hi = T1 / st * st
    val outerLo = (T0 + st - 1) / st * st
    s"""WITH e AS (
       |  SELECT user_id, CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click'
       |    AND $tsS BETWEEN ${T0 - or - ir + 1} AND $T1),
       |d AS (
       |  SELECT *, lag(v) OVER (PARTITION BY user_id
       |                         ORDER BY ts_s, v) AS prev
       |  FROM e),
       |x AS (
       |  SELECT cohort, ts_s,
       |         CASE WHEN prev IS NULL THEN NULL
       |              WHEN v >= prev THEN v - prev
       |              ELSE v END AS delta
       |  FROM d),
       |ie AS (
       |  SELECT cohort, g.e AS ets,
       |         floor(CAST(SUM(delta) AS DOUBLE) / $ir * 1e6 + 0.5) / 1e6 AS rate
       |  FROM x JOIN generate_series($innerLo, $hi, $st) AS g(e)
       |    ON x.ts_s BETWEEN g.e - $ir + 1 AND g.e
       |  WHERE delta IS NOT NULL
       |  GROUP BY 1, 2),
       |mm AS (
       |  SELECT cohort, ets,
       |         CAST(round(rate * 1e6) AS BIGINT) AS m
       |  FROM ie)
       |SELECT cohort, t.t AS eval_ts,
       |       floor(sqrt(
       |         (CAST(SUM(CAST(m AS HUGEINT) * CAST(m AS HUGEINT))
       |            AS DOUBLE) / count(*)
       |          - (CAST(SUM(m) AS DOUBLE) / count(*))
       |            * (CAST(SUM(m) AS DOUBLE) / count(*))) / 1e12)
       |         * 1e6 + 0.5) / 1e6
       |         AS stddev_v
       |FROM mm JOIN generate_series($outerLo, $hi, $st) AS t(t)
       |  ON mm.ets BETWEEN t.t - $or + 1 AND t.t
       |GROUP BY 1, 2 ORDER BY cohort, eval_ts""".stripMargin
  }

  /** Shared inner CTEs of the counter-outer-over-computed-inner mirrors:
    * the subquery_rate sliding-rate CTE chain (`ie`: cohort, ets, rate),
    * parameterized only by what follows. */
  private def subqRateInnerCtes: String = {
    val ir = 3600L; val or = 21600L; val st = 3600L
    val innerLo = (T0 - or + st - 1) / st * st
    val hi = T1 / st * st
    s"""WITH e AS (
       |  SELECT user_id, CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click'
       |    AND $tsS BETWEEN ${T0 - or - ir + 1} AND $T1),
       |d AS (
       |  SELECT *, lag(v) OVER (PARTITION BY user_id
       |                         ORDER BY ts_s, v) AS prev
       |  FROM e),
       |x AS (
       |  SELECT cohort, ts_s,
       |         CASE WHEN prev IS NULL THEN NULL
       |              WHEN v >= prev THEN v - prev
       |              ELSE v END AS delta
       |  FROM d),
       |ie AS (
       |  SELECT cohort, g.e AS ets,
       |         floor(CAST(SUM(delta) AS DOUBLE) / $ir * 1e6 + 0.5) / 1e6 AS rate
       |  FROM x JOIN generate_series($innerLo, $hi, $st) AS g(e)
       |    ON x.ts_s BETWEEN g.e - $ir + 1 AND g.e
       |  WHERE delta IS NOT NULL
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** Counter-outer mirror — `deriv(sum by (cohort)(rate(click[1h]))
    * [6h:1h])`: HUGEINT least-squares over the inner rates of each
    * trailing window, x re-origined to the window start, y at exact
    * integer micros (the inner rate is 6-decimal quantized). */
  private val tsdbPromqlSubqueryDerivRate = {
    val or = 21600L; val st = 3600L
    val hi = T1 / st * st
    val outerLo = (T0 + st - 1) / st * st
    s"""$subqRateInnerCtes,
       |w AS (
       |  SELECT cohort, t.t AS tt,
       |         CAST(ie.ets - (t.t - $or) AS HUGEINT) AS x,
       |         CAST(CAST(rate AS DECIMAL(28,10)) * 1000000 AS HUGEINT)
       |           AS ym
       |  FROM ie JOIN generate_series($outerLo, $hi, $st) AS t(t)
       |    ON ie.ets BETWEEN t.t - $or + $st AND t.t),
       |a AS (
       |  SELECT cohort, tt, CAST(count(*) AS HUGEINT) AS n,
       |         SUM(x) AS sx, SUM(ym) AS sym,
       |         SUM(x*ym) AS sxym, SUM(x*x) AS sxx
       |  FROM w GROUP BY 1, 2),
       |b AS (
       |  SELECT *, n*sxym - sx*sym AS numc, n*sxx - sx*sx AS den
       |  FROM a)
       |SELECT cohort, tt AS eval_ts, CAST(n AS BIGINT) AS n,
       |       CAST(numc AS DOUBLE) / CAST(den AS DOUBLE) / 1000000.0
       |         AS slope_per_sec
       |FROM b WHERE n >= 2 AND den <> 0
       |ORDER BY cohort, eval_ts""".stripMargin
  }

  /** Rolling-extrapolation mirror — `predict_linear(avg_over_time(
    * click[1h])[6h:1h], 1h)`: the same HUGEINT regression over the
    * floor-r6-quantized hourly means, predicted at xp = or + 3600 past
    * each window origin. */
  private val tsdbPromqlSubqueryPredictGauge = {
    val ir = 3600L; val or = 21600L; val st = 3600L
    val innerLo = (T0 - or + st - 1) / st * st
    val hi = T1 / st * st
    val outerLo = (T0 + st - 1) / st * st
    val xp = or + 3600L
    s"""WITH e AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click'
       |    AND $tsS BETWEEN ${T0 - or - ir + 1} AND $T1),
       |ie AS (
       |  SELECT cohort, g.e AS ets,
       |         floor(CAST(SUM(v) AS DOUBLE) / count(*) * 1e6 + 0.5)
       |           / 1e6 AS avg_v
       |  FROM e JOIN generate_series($innerLo, $hi, $st) AS g(e)
       |    ON e.ts_s BETWEEN g.e - $ir + 1 AND g.e
       |  GROUP BY 1, 2),
       |w AS (
       |  SELECT cohort, t.t AS tt,
       |         CAST(ie.ets - (t.t - $or) AS HUGEINT) AS x,
       |         CAST(CAST(avg_v AS DECIMAL(28,10)) * 1000000 AS HUGEINT)
       |           AS ym
       |  FROM ie JOIN generate_series($outerLo, $hi, $st) AS t(t)
       |    ON ie.ets BETWEEN t.t - $or + $st AND t.t),
       |a AS (
       |  SELECT cohort, tt, CAST(count(*) AS HUGEINT) AS n,
       |         SUM(x) AS sx, SUM(ym) AS sym,
       |         SUM(x*ym) AS sxym, SUM(x*x) AS sxx
       |  FROM w GROUP BY 1, 2),
       |b AS (
       |  SELECT *, n*sxym - sx*sym AS numc, n*sxx - sx*sx AS den
       |  FROM a)
       |SELECT cohort, tt AS eval_ts, CAST(n AS BIGINT) AS n,
       |       CAST(numc AS DOUBLE) / CAST(den AS DOUBLE) / 1000000.0
       |         AS slope_per_sec,
       |       CAST(sym*den + numc*(n*CAST($xp AS HUGEINT) - sx)
       |            AS DOUBLE)
       |         / CAST(n*den AS DOUBLE) / 1000000.0 AS predicted
       |FROM b WHERE n >= 2 AND den <> 0
       |ORDER BY cohort, eval_ts""".stripMargin
  }

  /** Pairwise counter-outer mirror — `changes(sum by (cohort)(rate(
    * click[1h]))[6h:1h])`: lag over the inner-eval series per cohort,
    * a pair is live in a window only when BOTH ends are inside (the
    * range-vector rule, unlike the raw-sample sliding family). */
  private val tsdbPromqlSubqueryChangesRate = {
    val or = 21600L; val st = 3600L
    val hi = T1 / st * st
    val outerLo = (T0 + st - 1) / st * st
    s"""$subqRateInnerCtes,
       |dd AS (
       |  SELECT cohort, ets, rate,
       |         lag(ets) OVER (PARTITION BY cohort ORDER BY ets) AS pets,
       |         lag(rate) OVER (PARTITION BY cohort ORDER BY ets)
       |           AS prate
       |  FROM ie)
       |SELECT cohort, t.t AS eval_ts,
       |       CAST(SUM(CASE WHEN pets IS NOT NULL AND pets > t.t - $or
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_deltas,
       |       CAST(SUM(CASE WHEN pets IS NOT NULL AND pets > t.t - $or
       |                          AND rate <> prate
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS changes
       |FROM dd JOIN generate_series($outerLo, $hi, $st) AS t(t)
       |  ON dd.ets BETWEEN t.t - $or + $st AND t.t
       |GROUP BY 1, 2
       |HAVING SUM(CASE WHEN pets IS NOT NULL AND pets > t.t - $or
       |                THEN 1 ELSE 0 END) >= 1
       |ORDER BY cohort, eval_ts""".stripMargin
  }

  /** Gauge-spread subquery mirror — `stddev_over_time(avg_over_time(
    * click[1h]) by (cohort)[6h:1h])`: inner floor-r6-quantized hourly
    * DECIMAL-means (the engine's quantized gauge avg_v), then the same
    * integer-micro spread scheme as the rate-spread mirror. */
  private val tsdbPromqlSubqueryGspread = {
    val ir = 3600L; val or = 21600L; val st = 3600L
    val innerLo = (T0 - or + st - 1) / st * st
    val hi = T1 / st * st
    val outerLo = (T0 + st - 1) / st * st
    s"""WITH e AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click'
       |    AND $tsS BETWEEN ${T0 - or - ir + 1} AND $T1),
       |ie AS (
       |  SELECT cohort, g.e AS ets,
       |         floor(CAST(SUM(v) AS DOUBLE) / count(*) * 1e6 + 0.5)
       |           / 1e6 AS avg_v
       |  FROM e JOIN generate_series($innerLo, $hi, $st) AS g(e)
       |    ON e.ts_s BETWEEN g.e - $ir + 1 AND g.e
       |  GROUP BY 1, 2),
       |mm AS (
       |  SELECT cohort, ets,
       |         CAST(round(avg_v * 1e6) AS BIGINT) AS m
       |  FROM ie)
       |SELECT cohort, t.t AS eval_ts, count(*) AS n,
       |       floor(sqrt(
       |         (CAST(SUM(CAST(m AS HUGEINT) * CAST(m AS HUGEINT))
       |            AS DOUBLE) / count(*)
       |          - (CAST(SUM(m) AS DOUBLE) / count(*))
       |            * (CAST(SUM(m) AS DOUBLE) / count(*))) / 1e12)
       |         * 1e6 + 0.5) / 1e6
       |         AS stddev_v
       |FROM mm JOIN generate_series($outerLo, $hi, $st) AS t(t)
       |  ON mm.ets BETWEEN t.t - $or + 1 AND t.t
       |GROUP BY 1, 2 ORDER BY cohort, eval_ts""".stripMargin
  }

  /** Spread-aggregated-inner subquery mirror — `max_over_time(stddev by
    * (cohort)(rate(click[1h]))[6h:1h])`: per-series rates (ps CTE), the
    * engine's integer-micro spread per (cohort, eval point) with the
    * tie-free floor(x*1e6+0.5)/1e6 rounding, outer max (exact on the
    * quantized stddev values). */
  private val tsdbPromqlSubquerySprinner = {
    val ir = 3600L; val or = 21600L; val st = 3600L
    val innerLo = (T0 - or + st - 1) / st * st
    val hi = T1 / st * st
    val outerLo = (T0 + st - 1) / st * st
    s"""WITH e AS (
       |  SELECT user_id, CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click'
       |    AND $tsS BETWEEN ${T0 - or - ir + 1} AND $T1),
       |d AS (
       |  SELECT *, lag(v) OVER (PARTITION BY user_id
       |                         ORDER BY ts_s, v) AS prev
       |  FROM e),
       |x AS (
       |  SELECT user_id, cohort, ts_s,
       |         CASE WHEN prev IS NULL THEN NULL
       |              WHEN v >= prev THEN v - prev
       |              ELSE v END AS delta
       |  FROM d),
       |ps AS (
       |  SELECT user_id, cohort, g.e AS ets,
       |         CAST(round(floor(CAST(SUM(delta) AS DOUBLE) / $ir * 1e6 + 0.5) / 1e6
       |           * 1e6) AS BIGINT) AS m
       |  FROM x JOIN generate_series($innerLo, $hi, $st) AS g(e)
       |    ON x.ts_s BETWEEN g.e - $ir + 1 AND g.e
       |  WHERE delta IS NOT NULL
       |  GROUP BY 1, 2, 3),
       |im AS (
       |  SELECT cohort, ets,
       |         floor(sqrt(
       |           (CAST(SUM(CAST(m AS HUGEINT) * CAST(m AS HUGEINT))
       |              AS DOUBLE) / count(*)
       |            - (CAST(SUM(m) AS DOUBLE) / count(*))
       |              * (CAST(SUM(m) AS DOUBLE) / count(*))) / 1e12)
       |           * 1e6 + 0.5) / 1e6 AS stddev_v
       |  FROM ps GROUP BY 1, 2)
       |SELECT cohort, t.t AS eval_ts, max(stddev_v) AS max_v
       |FROM im JOIN generate_series($outerLo, $hi, $st) AS t(t)
       |  ON im.ets BETWEEN t.t - $or + 1 AND t.t
       |GROUP BY 1, 2 ORDER BY cohort, eval_ts""".stripMargin
  }

  /** Quantile-aggregated-inner subquery mirror — `avg_over_time(
    * quantile by (cohort)(0.9, rate(click[1h]))[6h:1h])`: per-series
    * rates, quantile_cont per (cohort, eval point) (the established
    * Percentile parity, round 6 both sides), DECIMAL-mean outer. */
  private val tsdbPromqlSubqueryQinner = {
    val ir = 3600L; val or = 21600L; val st = 3600L
    val innerLo = (T0 - or + st - 1) / st * st
    val hi = T1 / st * st
    val outerLo = (T0 + st - 1) / st * st
    s"""WITH e AS (
       |  SELECT user_id, CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click'
       |    AND $tsS BETWEEN ${T0 - or - ir + 1} AND $T1),
       |d AS (
       |  SELECT *, lag(v) OVER (PARTITION BY user_id
       |                         ORDER BY ts_s, v) AS prev
       |  FROM e),
       |x AS (
       |  SELECT user_id, cohort, ts_s,
       |         CASE WHEN prev IS NULL THEN NULL
       |              WHEN v >= prev THEN v - prev
       |              ELSE v END AS delta
       |  FROM d),
       |ps AS (
       |  SELECT user_id, cohort, g.e AS ets,
       |         floor(CAST(SUM(delta) AS DOUBLE) / $ir * 1e6 + 0.5) / 1e6 AS rate
       |  FROM x JOIN generate_series($innerLo, $hi, $st) AS g(e)
       |    ON x.ts_s BETWEEN g.e - $ir + 1 AND g.e
       |  WHERE delta IS NOT NULL
       |  GROUP BY 1, 2, 3),
       |im AS (
       |  SELECT cohort, ets,
       |         round(quantile_cont(rate, 0.9), 6) AS q_v
       |  FROM ps GROUP BY 1, 2)
       |SELECT cohort, t.t AS eval_ts,
       |       CAST(SUM(CAST(q_v AS DECIMAL(28,10))) AS DOUBLE)
       |         / count(*) AS avg_v
       |FROM im JOIN generate_series($outerLo, $hi, $st) AS t(t)
       |  ON im.ets BETWEEN t.t - $or + 1 AND t.t
       |GROUP BY 1, 2 ORDER BY cohort, eval_ts""".stripMargin
  }

  /** Binary-op-inner subquery mirror — `max_over_time((sum by (cohort)
    * (rate(click[1h])) / sum by (cohort)(rate(view[1h])))[6h:1h])`: two
    * sliding-rate CTE chains (one per metric, each lag-partitioned per
    * series over its own scanned span), inner-joined per (cohort, eval
    * point) like the engine's vector match, ratio via the engine's `/`
    * (0-denominator → ±Inf/NaN, round 6), outer max. */
  private val tsdbPromqlSubqueryRatio = {
    val ir = 3600L; val or = 21600L; val st = 3600L
    val innerLo = (T0 - or + st - 1) / st * st
    val hi = T1 / st * st
    val outerLo = (T0 + st - 1) / st * st
    def rateCte(metric: String, p: String) =
      s"""${p}e AS (
         |  SELECT user_id, CAST(user_id % 10 AS VARCHAR) AS cohort,
         |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
         |  FROM events
         |  WHERE event_type = '$metric'
         |    AND $tsS BETWEEN ${T0 - or - ir + 1} AND $T1),
         |${p}d AS (
         |  SELECT *, lag(v) OVER (PARTITION BY user_id
         |                         ORDER BY ts_s, v) AS prev
         |  FROM ${p}e),
         |${p}x AS (
         |  SELECT cohort, ts_s,
         |         CASE WHEN prev IS NULL THEN NULL
         |              WHEN v >= prev THEN v - prev
         |              ELSE v END AS delta
         |  FROM ${p}d),
         |${p}ie AS (
         |  SELECT cohort, g.e AS ets,
         |         floor(CAST(SUM(delta) AS DOUBLE) / $ir * 1e6 + 0.5) / 1e6 AS rate
         |  FROM ${p}x JOIN generate_series($innerLo, $hi, $st) AS g(e)
         |    ON ${p}x.ts_s BETWEEN g.e - $ir + 1 AND g.e
         |  WHERE delta IS NOT NULL
         |  GROUP BY 1, 2)""".stripMargin
    s"""WITH ${rateCte("click", "a")},
       |${rateCte("view", "b")},
       |j AS (
       |  SELECT aie.cohort, aie.ets,
       |         round(CASE WHEN bie.rate = 0
       |                    THEN aie.rate * CAST('Infinity' AS DOUBLE)
       |                    ELSE aie.rate / bie.rate END, 6) AS ratio
       |  FROM aie JOIN bie
       |    ON aie.cohort = bie.cohort AND aie.ets = bie.ets)
       |SELECT cohort, t.t AS eval_ts, max(ratio) AS max_v
       |FROM j JOIN generate_series($outerLo, $hi, $st) AS t(t)
       |  ON j.ets BETWEEN t.t - $or + 1 AND t.t
       |GROUP BY 1, 2 ORDER BY cohort, eval_ts""".stripMargin
  }

  /** Ratio-spread subquery mirror — `stddev_over_time((sum(rate(click))
    * / sum(rate(view)))[6h:1h])`: the two-leg ratio CTE chain, then the
    * integer-micro spread over the round(…,6)-quantized ratios (the
    * engine's ratio contract makes the "/" inner micro-lossless). */
  private val tsdbPromqlSubqueryRspread = {
    val ir = 3600L; val or = 21600L; val st = 3600L
    val innerLo = (T0 - or + st - 1) / st * st
    val hi = T1 / st * st
    val outerLo = (T0 + st - 1) / st * st
    def rateCte(metric: String, p: String) =
      s"""${p}e AS (
         |  SELECT user_id, CAST(user_id % 10 AS VARCHAR) AS cohort,
         |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
         |  FROM events
         |  WHERE event_type = '$metric'
         |    AND $tsS BETWEEN ${T0 - or - ir + 1} AND $T1),
         |${p}d AS (
         |  SELECT *, lag(v) OVER (PARTITION BY user_id
         |                         ORDER BY ts_s, v) AS prev
         |  FROM ${p}e),
         |${p}x AS (
         |  SELECT cohort, ts_s,
         |         CASE WHEN prev IS NULL THEN NULL
         |              WHEN v >= prev THEN v - prev
         |              ELSE v END AS delta
         |  FROM ${p}d),
         |${p}ie AS (
         |  SELECT cohort, g.e AS ets,
         |         floor(CAST(SUM(delta) AS DOUBLE) / $ir * 1e6 + 0.5) / 1e6 AS rate
         |  FROM ${p}x JOIN generate_series($innerLo, $hi, $st) AS g(e)
         |    ON ${p}x.ts_s BETWEEN g.e - $ir + 1 AND g.e
         |  WHERE delta IS NOT NULL
         |  GROUP BY 1, 2)""".stripMargin
    s"""WITH ${rateCte("click", "a")},
       |${rateCte("view", "b")},
       |j AS (
       |  SELECT aie.cohort, aie.ets,
       |         CAST(round(round(CASE WHEN bie.rate = 0
       |                    THEN aie.rate * CAST('Infinity' AS DOUBLE)
       |                    ELSE aie.rate / bie.rate END, 6) * 1e6)
       |              AS BIGINT) AS m
       |  FROM aie JOIN bie
       |    ON aie.cohort = bie.cohort AND aie.ets = bie.ets)
       |SELECT cohort, t.t AS eval_ts, count(*) AS n,
       |       floor(sqrt(
       |         (CAST(SUM(CAST(m AS HUGEINT) * CAST(m AS HUGEINT))
       |            AS DOUBLE) / count(*)
       |          - (CAST(SUM(m) AS DOUBLE) / count(*))
       |            * (CAST(SUM(m) AS DOUBLE) / count(*))) / 1e12)
       |         * 1e6 + 0.5) / 1e6
       |         AS stddev_v
       |FROM j JOIN generate_series($outerLo, $hi, $st) AS t(t)
       |  ON j.ets BETWEEN t.t - $or + 1 AND t.t
       |GROUP BY 1, 2 ORDER BY cohort, eval_ts""".stripMargin
  }

  /** Difference-spread subquery mirror — `stddev_over_time((sum(rate(
    * click)) - sum(rate(view)))[6h:1h])`: the two-leg CTE chain, the
    * difference quantized through the tie-free floor-r6 (the engine's
    * r15 `result6` contract for +,-,* subquery inners), then the
    * integer-micro spread. */
  private val tsdbPromqlSubqueryDspread = {
    val ir = 3600L; val or = 21600L; val st = 3600L
    val innerLo = (T0 - or + st - 1) / st * st
    val hi = T1 / st * st
    val outerLo = (T0 + st - 1) / st * st
    def rateCte(metric: String, p: String) =
      s"""${p}e AS (
         |  SELECT user_id, CAST(user_id % 10 AS VARCHAR) AS cohort,
         |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
         |  FROM events
         |  WHERE event_type = '$metric'
         |    AND $tsS BETWEEN ${T0 - or - ir + 1} AND $T1),
         |${p}d AS (
         |  SELECT *, lag(v) OVER (PARTITION BY user_id
         |                         ORDER BY ts_s, v) AS prev
         |  FROM ${p}e),
         |${p}x AS (
         |  SELECT cohort, ts_s,
         |         CASE WHEN prev IS NULL THEN NULL
         |              WHEN v >= prev THEN v - prev
         |              ELSE v END AS delta
         |  FROM ${p}d),
         |${p}ie AS (
         |  SELECT cohort, g.e AS ets,
         |         floor(CAST(SUM(delta) AS DOUBLE) / $ir * 1e6 + 0.5) / 1e6 AS rate
         |  FROM ${p}x JOIN generate_series($innerLo, $hi, $st) AS g(e)
         |    ON ${p}x.ts_s BETWEEN g.e - $ir + 1 AND g.e
         |  WHERE delta IS NOT NULL
         |  GROUP BY 1, 2)""".stripMargin
    s"""WITH ${rateCte("click", "a")},
       |${rateCte("view", "b")},
       |j AS (
       |  SELECT aie.cohort, aie.ets,
       |         CAST(round(
       |           (floor((aie.rate - bie.rate) * 1e6 + 0.5) / 1e6) * 1e6)
       |              AS BIGINT) AS m
       |  FROM aie JOIN bie
       |    ON aie.cohort = bie.cohort AND aie.ets = bie.ets)
       |SELECT cohort, t.t AS eval_ts, count(*) AS n,
       |       floor(sqrt(
       |         (CAST(SUM(CAST(m AS HUGEINT) * CAST(m AS HUGEINT))
       |            AS DOUBLE) / count(*)
       |          - (CAST(SUM(m) AS DOUBLE) / count(*))
       |            * (CAST(SUM(m) AS DOUBLE) / count(*))) / 1e12)
       |         * 1e6 + 0.5) / 1e6
       |         AS stddev_v
       |FROM j JOIN generate_series($outerLo, $hi, $st) AS t(t)
       |  ON j.ets BETWEEN t.t - $or + 1 AND t.t
       |GROUP BY 1, 2 ORDER BY cohort, eval_ts""".stripMargin
  }

  /** Top-k-inner subquery mirror — `count_over_time(topk(3, sum by
    * (cohort)(rate(click[1h])))[6h:1h])`: the cohort-grain sliding-rate
    * CTE, ranked per eval point (value DESC, cohort ASC — the engine's
    * pinned tie order), top 3 kept, outer count per cohort. */
  private val tsdbPromqlSubqueryTopk = {
    val ir = 3600L; val or = 21600L; val st = 3600L
    val innerLo = (T0 - or + st - 1) / st * st
    val hi = T1 / st * st
    val outerLo = (T0 + st - 1) / st * st
    s"""WITH e AS (
       |  SELECT user_id, CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click'
       |    AND $tsS BETWEEN ${T0 - or - ir + 1} AND $T1),
       |d AS (
       |  SELECT *, lag(v) OVER (PARTITION BY user_id
       |                         ORDER BY ts_s, v) AS prev
       |  FROM e),
       |x AS (
       |  SELECT cohort, ts_s,
       |         CASE WHEN prev IS NULL THEN NULL
       |              WHEN v >= prev THEN v - prev
       |              ELSE v END AS delta
       |  FROM d),
       |ie AS (
       |  SELECT cohort, g.e AS ets,
       |         floor(CAST(SUM(delta) AS DOUBLE) / $ir * 1e6 + 0.5) / 1e6 AS rate
       |  FROM x JOIN generate_series($innerLo, $hi, $st) AS g(e)
       |    ON x.ts_s BETWEEN g.e - $ir + 1 AND g.e
       |  WHERE delta IS NOT NULL
       |  GROUP BY 1, 2),
       |rk AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY ets
       |    ORDER BY rate DESC, cohort ASC NULLS FIRST) AS r
       |  FROM ie)
       |SELECT cohort, t.t AS eval_ts, count(*) AS n
       |FROM rk JOIN generate_series($outerLo, $hi, $st) AS t(t)
       |  ON rk.ets BETWEEN t.t - $or + 1 AND t.t
       |WHERE r <= 3
       |GROUP BY 1, 2 ORDER BY cohort, eval_ts""".stripMargin
  }

  /** Subquery alert mirror — `max_over_time(rate(click[1h]) by (cohort)
    * [6h:1h]) > 0.004` held for 2h: the subquery_rate CTE chain with a
    * HAVING threshold, then the gaps-and-islands `for` escalation on
    * the subquery's own 1h eval grid (the tsdbAlertRule scheme).
    */
  private val tsdbAlertRuleSubq = {
    val ir = 3600L; val or = 21600L; val st = 3600L
    val innerLo = (T0 - or + st - 1) / st * st
    val hi = T1 / st * st
    val outerLo = (T0 + st - 1) / st * st
    s"""WITH e AS (
       |  SELECT user_id, CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click'
       |    AND $tsS BETWEEN ${T0 - or - ir + 1} AND $T1),
       |d AS (
       |  SELECT *, lag(v) OVER (PARTITION BY user_id
       |                         ORDER BY ts_s, v) AS prev
       |  FROM e),
       |x AS (
       |  SELECT cohort, ts_s,
       |         CASE WHEN prev IS NULL THEN NULL
       |              WHEN v >= prev THEN v - prev
       |              ELSE v END AS delta
       |  FROM d),
       |ie AS (
       |  SELECT cohort, g.e AS ets,
       |         floor(CAST(SUM(delta) AS DOUBLE) / $ir * 1e6 + 0.5) / 1e6 AS rate
       |  FROM x JOIN generate_series($innerLo, $hi, $st) AS g(e)
       |    ON x.ts_s BETWEEN g.e - $ir + 1 AND g.e
       |  WHERE delta IS NOT NULL
       |  GROUP BY 1, 2),
       |act AS (
       |  SELECT cohort, t.t AS bucket_start, max(rate) AS value
       |  FROM ie JOIN generate_series($outerLo, $hi, $st) AS t(t)
       |    ON ie.ets BETWEEN t.t - $or + 1 AND t.t
       |  GROUP BY 1, 2
       |  HAVING max(rate) > 0.004),
       |r AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY cohort ORDER BY bucket_start) AS rn
       |  FROM act),
       |stx AS (
       |  SELECT *, min(bucket_start) OVER (
       |    PARTITION BY cohort, bucket_start - rn * $st) AS s0
       |  FROM r)
       |SELECT 'cohort_peak_rate_high' AS alertname, cohort, bucket_start,
       |       value,
       |       CASE WHEN bucket_start - s0 >= 7200 THEN 'firing'
       |            ELSE 'pending' END AS state
       |FROM stx ORDER BY cohort, bucket_start""".stripMargin
  }

  /** Sliding-selector alert mirror — `rate(click[6h:1h]) by (cohort) >
    * 0.004 for 2h`: the subquery-alert scheme without the outer
    * aggregation (each eval IS the sliding rate), threshold + the
    * gaps-and-islands for-clock at the step grid. */
  private val tsdbAlertRuleSlide = {
    val ir = 21600L; val st = 3600L
    val lo = (T0 + st - 1) / st * st
    val hi = T1 / st * st
    s"""WITH e AS (
       |  SELECT user_id, CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click'
       |    AND $tsS BETWEEN ${T0 - ir + 1} AND $T1),
       |d AS (
       |  SELECT *, lag(v) OVER (PARTITION BY user_id
       |                         ORDER BY ts_s, v) AS prev
       |  FROM e),
       |x AS (
       |  SELECT cohort, ts_s,
       |         CASE WHEN prev IS NULL THEN NULL
       |              WHEN v >= prev THEN v - prev
       |              ELSE v END AS delta
       |  FROM d),
       |act AS (
       |  SELECT cohort, g.e AS bucket_start,
       |         floor(CAST(SUM(delta) AS DOUBLE) / $ir * 1e6 + 0.5) / 1e6 AS value
       |  FROM x JOIN generate_series($lo, $hi, $st) AS g(e)
       |    ON x.ts_s BETWEEN g.e - $ir + 1 AND g.e
       |  WHERE delta IS NOT NULL
       |  GROUP BY 1, 2
       |  HAVING floor(CAST(SUM(delta) AS DOUBLE) / $ir * 1e6 + 0.5) / 1e6 > 0.004),
       |r AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY cohort ORDER BY bucket_start) AS rn
       |  FROM act),
       |stx AS (
       |  SELECT *, min(bucket_start) OVER (
       |    PARTITION BY cohort, bucket_start - rn * $st) AS s0
       |  FROM r)
       |SELECT 'cohort_rate_high' AS alertname, cohort, bucket_start,
       |       value,
       |       CASE WHEN bucket_start - s0 >= 7200 THEN 'firing'
       |            ELSE 'pending' END AS state
       |FROM stx ORDER BY cohort, bucket_start""".stripMargin
  }

  /** Subquery recording-rule mirror — the tsdbPromqlSubqueryMoment
    * series materialized under its rule name with the static job label,
    * read back through the engine (metric/labels round-trip through the
    * sample schema, so this mirrors the read-back projection). */
  private val tsdbRecordingRuleSubq = {
    val ir = 3600L; val or = 21600L; val st = 3600L
    val innerLo = (T0 - or + st - 1) / st * st
    val hi = T1 / st * st
    val outerLo = (T0 + st - 1) / st * st
    s"""WITH e AS (
       |  SELECT user_id, CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click'
       |    AND $tsS BETWEEN ${T0 - or - ir + 1} AND $T1),
       |d AS (
       |  SELECT *, lag(v) OVER (PARTITION BY user_id
       |                         ORDER BY ts_s, v) AS prev
       |  FROM e),
       |x AS (
       |  SELECT user_id, cohort, ts_s,
       |         CASE WHEN prev IS NULL THEN NULL
       |              WHEN v >= prev THEN v - prev
       |              ELSE v END AS delta
       |  FROM d),
       |ps AS (
       |  SELECT user_id, cohort, g.e AS ets,
       |         floor(CAST(SUM(delta) AS DOUBLE) / $ir * 1e6 + 0.5) / 1e6 AS rate
       |  FROM x JOIN generate_series($innerLo, $hi, $st) AS g(e)
       |    ON x.ts_s BETWEEN g.e - $ir + 1 AND g.e
       |  WHERE delta IS NOT NULL
       |  GROUP BY 1, 2, 3),
       |im AS (
       |  SELECT cohort, ets,
       |         floor(CAST(SUM(CAST(rate AS DECIMAL(28,10))) AS DOUBLE)
       |           / count(*) * 1e6 + 0.5) / 1e6 AS avg_v
       |  FROM ps GROUP BY 1, 2)
       |SELECT cohort, 'rules' AS job, t.t AS bucket_start,
       |       max(avg_v) AS peak_v
       |FROM im JOIN generate_series($outerLo, $hi, $st) AS t(t)
       |  ON im.ets BETWEEN t.t - $or + 1 AND t.t
       |GROUP BY 1, 3 ORDER BY cohort, bucket_start""".stripMargin
  }

  /** The two set-op oracles share this pair of aggregates: purchase
    * cohort-hours (all moments, the gauge `moments` schema) and the
    * thresholded click cohort-hours.
    */
  private def setOpCtes: String =
    s"""WITH a AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS - ($tsS % 3600) AS bucket_start,
       |         count(*) AS n,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*)
       |           AS avg_v,
       |         min(value) AS min_v, max(value) AS max_v
       |  FROM events
       |  WHERE event_type = 'purchase' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1, 2),
       |b AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS - ($tsS % 3600) AS bucket_start
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1, 2
       |  HAVING CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) > 10)""".stripMargin

  private val tsdbPromqlAnd =
    s"""$setOpCtes
       |SELECT a.* FROM a
       |WHERE EXISTS (SELECT 1 FROM b
       |  WHERE b.cohort = a.cohort AND b.bucket_start = a.bucket_start)
       |ORDER BY 1, 2""".stripMargin

  private val tsdbPromqlUnless =
    s"""$setOpCtes
       |SELECT a.* FROM a
       |WHERE NOT EXISTS (SELECT 1 FROM b
       |  WHERE b.cohort = a.cohort AND b.bucket_start = a.bucket_start)
       |ORDER BY 1, 2""".stripMargin

  /** Non-sum vector match (max / avg): both sides aggregate the same
    * metric at the same grain, so one pass computes both moments; the
    * ratio divides them in the engines' shared double order.
    */
  private val tsdbPromqlMaxAvg =
    s"""SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |       $tsS - ($tsS % 3600) AS bucket_start,
       |       count(*) AS n_a, count(*) AS n_b,
       |       round(max(value) /
       |         (CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
       |           / count(*)), 6) AS result
       |FROM events
       |WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Per-side matcher ratio: the numerator's user_id regex must NOT
    * filter the denominator — the denominator scans ALL click rows.
    */
  private val tsdbPromqlRatioMatched =
    s"""WITH a AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS - ($tsS % 86400) AS bucket_start,
       |         count(*) AS n_a,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_a
       |  FROM events
       |  WHERE event_type = 'purchase'
       |    AND regexp_full_match(CAST(user_id AS VARCHAR), '(?:1.*)')
       |    AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1, 2),
       |b AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS - ($tsS % 86400) AS bucket_start,
       |         count(*) AS n_b,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_b
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1, 2)
       |SELECT a.cohort, a.bucket_start, n_a, n_b,
       |       round(sum_a / sum_b, 6) AS result
       |FROM a JOIN b USING (cohort, bucket_start)
       |ORDER BY 1, 2""".stripMargin

  /** avg(increase) mirror: the tsdbAggIncrease lag pipeline, but the
    * deltas roll up per (series, bucket) first and the cross-series
    * moments aggregate those per-series increases — avg divides the
    * exact double sum by the exact series count.
    */
  private val tsdbPromqlAvgRate =
    s"""WITH e AS (
       |  SELECT user_id, CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1),
       |d AS (
       |  SELECT *, lag(v) OVER (PARTITION BY user_id
       |                         ORDER BY ts_s, v) AS prev
       |  FROM e),
       |x AS (
       |  SELECT cohort, user_id, ts_s - (ts_s % 3600) AS bucket_start,
       |         CASE WHEN prev IS NULL THEN NULL
       |              WHEN v >= prev THEN v - prev
       |              ELSE v END AS delta
       |  FROM d),
       |p AS (
       |  SELECT cohort, user_id, bucket_start, SUM(delta) AS inc
       |  FROM x WHERE delta IS NOT NULL
       |  GROUP BY 1, 2, 3)
       |SELECT cohort, bucket_start,
       |       count(*) AS n_series,
       |       CAST(SUM(inc) AS DOUBLE) AS sum_increase,
       |       CAST(SUM(inc) AS DOUBLE) / count(*) AS avg_increase,
       |       CAST(MIN(inc) AS DOUBLE) AS min_increase,
       |       CAST(MAX(inc) AS DOUBLE) AS max_increase
       |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Chained math functions over the vector difference: the diff is one
    * IEEE subtraction of the exact decimal-derived sums; abs + least are
    * pointwise and identical across engines.
    */
  private val tsdbPromqlClamp =
    s"""WITH a AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS - ($tsS % 3600) AS bucket_start,
       |         count(*) AS n_a,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_a
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1, 2),
       |b AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS - ($tsS % 3600) AS bucket_start,
       |         count(*) AS n_b,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_b
       |  FROM events
       |  WHERE event_type = 'purchase' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1, 2)
       |SELECT a.cohort, a.bucket_start, n_a, n_b,
       |       least(abs(sum_a - sum_b), 500.0) AS result
       |FROM a JOIN b USING (cohort, bucket_start)
       |ORDER BY 1, 2""".stripMargin

  /** Day-over-day per-side-offset ratio: the offset side scans yesterday's
    * window and reports at today's grid (+86400), the plain side scans
    * today — matched on (cohort, day bucket).
    */
  private val tsdbPromqlDod =
    s"""WITH a AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         ($tsS - ($tsS % 86400)) + 86400 AS bucket_start,
       |         count(*) AS n_a,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_a
       |  FROM events
       |  WHERE event_type = 'purchase'
       |    AND $tsS BETWEEN $T0 AND ${T1 - 86400L}
       |  GROUP BY 1, 2),
       |b AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS - ($tsS % 86400) AS bucket_start,
       |         count(*) AS n_b,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_b
       |  FROM events
       |  WHERE event_type = 'purchase'
       |    AND $tsS BETWEEN ${T0 + 86400L} AND $T1
       |  GROUP BY 1, 2)
       |SELECT a.cohort, a.bucket_start, n_a, n_b,
       |       round(sum_a / sum_b, 6) AS result
       |FROM a JOIN b USING (cohort, bucket_start)
       |ORDER BY 1, 2""".stripMargin

  /** absent_over_time mirror: the same PromQL lookback window
    * `(e - range, e]` as the over_time grid join, negated — grid points
    * with no covering sample.
    */
  private val tsdbAbsentOverTime =
    s"""WITH ev AS (
       |  SELECT $tsS AS ts_s
       |  FROM events
       |  WHERE event_type = 'click' AND CAST(user_id AS VARCHAR) = '7'
       |    AND $tsS BETWEEN ${T0 - 1800 + 1} AND $T1),
       |grid AS (SELECT unnest(range($T0, $T1 + 1, 3600)) AS eval_ts)
       |SELECT eval_ts, 1.0 AS value
       |FROM grid
       |WHERE NOT EXISTS (SELECT 1 FROM ev
       |  WHERE ev.ts_s <= grid.eval_ts AND ev.ts_s > grid.eval_ts - 1800)
       |ORDER BY eval_ts""".stripMargin

  /** offset-modifier mirror: the selection window shifts back one day,
    * result buckets report at the REQUESTED grid (bucket + offset).
    */
  private val tsdbOffset =
    s"""SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |       ($tsS - ($tsS % 3600)) + 86400 AS bucket_start,
       |       count(*) AS n,
       |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
       |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_v,
       |       min(value) AS min_v, max(value) AS max_v
       |FROM events
       |WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND ${T1 - 86400L}
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** bottomk(3, sum by (cohort)(click[1h])): tsdbTopk with the rank
    * order inverted.
    */
  private val tsdbBottomk =
    s"""WITH agg AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS - ($tsS % 3600) AS bucket_start,
       |         count(*) AS n,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY bucket_start
       |                               ORDER BY sum_v ASC, cohort) AS rk
       |  FROM agg)
       |SELECT cohort, bucket_start, rk, n, sum_v
       |FROM r WHERE rk <= 3
       |ORDER BY bucket_start, rk""".stripMargin

  /** count_values mirror over the decile-banded value, day buckets. */
  private val tsdbCountValues =
    s"""SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |       $tsS - ($tsS % 86400) AS bucket_start,
       |       CAST(floor(value / 10) AS DOUBLE) AS value,
       |       count(*) AS n
       |FROM events
       |WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** `*_over_time(click[2h])` family on the 1h eval grid: the naive
    * grid-join the map-side explode replaces; `max(struct)` mirrors the
    * Spark side's lexicographic (ts, value) last-sample pick exactly.
    * The sample scan reaches one full lookback window before T0, like the
    * Spark side — early eval windows are complete, not truncated.
    */
  private val tsdbOverTime =
    s"""WITH ev AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         CAST(user_id AS BIGINT) AS user_id,
       |         $tsS AS ts_s, value
       |  FROM events
       |  WHERE event_type = 'click'
       |    AND $tsS BETWEEN ${T0 - 7200 + 1} AND $T1),
       |grid AS (SELECT unnest(range($T0, $T1 + 1, 3600)) AS eval_ts),
       |j AS (
       |  SELECT cohort, user_id, eval_ts, ts_s, value
       |  FROM ev JOIN grid
       |    ON ev.ts_s <= grid.eval_ts AND ev.ts_s > grid.eval_ts - 7200)
       |SELECT cohort, user_id, eval_ts,
       |       count(*) AS n,
       |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
       |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*)
       |         AS avg_v,
       |       min(value) AS min_v, max(value) AS max_v,
       |       (max(struct_pack(t := ts_s, v := value))).v AS last_v
       |FROM j GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** ts_of_* mirror: the same windowed join as tsdbOverTime; arg-max by
    * lexicographic struct compare (value first, ts second — ties to the
    * larger ts, Prometheus's latest-wins), negated value for the min
    * variant. struct_pack field ORDER is the comparison order.
    */
  private val tsdbTsOf =
    s"""WITH ev AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         CAST(user_id AS BIGINT) AS user_id,
       |         $tsS AS ts_s, value
       |  FROM events
       |  WHERE event_type = 'click'
       |    AND $tsS BETWEEN ${T0 - 7200 + 1} AND $T1),
       |grid AS (SELECT unnest(range($T0, $T1 + 1, 3600)) AS eval_ts),
       |j AS (
       |  SELECT cohort, user_id, eval_ts, ts_s, value
       |  FROM ev JOIN grid
       |    ON ev.ts_s <= grid.eval_ts AND ev.ts_s > grid.eval_ts - 7200)
       |SELECT cohort, user_id, eval_ts,
       |       count(*) AS n,
       |       CAST((max(struct_pack(v := value, t := ts_s))).t AS DOUBLE)
       |         AS ts_of_max_v,
       |       CAST((max(struct_pack(v := -value, t := ts_s))).t AS DOUBLE)
       |         AS ts_of_min_v,
       |       CAST(max(ts_s) AS DOUBLE) AS ts_of_last_v
       |FROM j GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** stddev/stdvar mirror: identical integer-cents lift, BIGINT moment
    * sums (CAST kills the HUGEINT trap), and the same double op order as
    * the Spark side, round(…,6)-absorbed.
    */
  private val tsdbStddev =
    s"""WITH c AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS - ($tsS % 3600) AS bucket_start,
       |         CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1),
       |m AS (
       |  SELECT cohort, bucket_start, count(*) AS n,
       |         CAST(SUM(cents) AS BIGINT) AS sum_c,
       |         CAST(SUM(cents * cents) AS BIGINT) AS sum2_c
       |  FROM c GROUP BY 1, 2)
       |SELECT cohort, bucket_start, n,
       |       round((CAST(sum_c AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0, 6)
       |         AS avg_v,
       |       round((CAST(sum2_c AS DOUBLE) / CAST(n AS DOUBLE) -
       |              (CAST(sum_c AS DOUBLE) / CAST(n AS DOUBLE)) *
       |              (CAST(sum_c AS DOUBLE) / CAST(n AS DOUBLE))) / 1e4, 6)
       |         AS stdvar,
       |       round(sqrt((CAST(sum2_c AS DOUBLE) / CAST(n AS DOUBLE) -
       |              (CAST(sum_c AS DOUBLE) / CAST(n AS DOUBLE)) *
       |              (CAST(sum_c AS DOUBLE) / CAST(n AS DOUBLE))) / 1e4), 6)
       |         AS stddev
       |FROM m ORDER BY cohort, bucket_start""".stripMargin

  /** Shared grid-join CTE prefix for the over_time window oracles: the
    * naive eval-grid join the Spark side's map-side explode replaces,
    * with the full-lookback scan reach-back (window 2h, grid 1h).
    */
  private def overTimeCtes(extraCols: String = ""): String =
    s"""WITH ev AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         CAST(user_id AS BIGINT) AS user_id,
       |         $tsS AS ts_s, value$extraCols
       |  FROM events
       |  WHERE event_type = 'click'
       |    AND $tsS BETWEEN ${T0 - 7200 + 1} AND $T1),
       |grid AS (SELECT unnest(range($T0, $T1 + 1, 3600)) AS eval_ts),
       |j AS (
       |  SELECT * FROM ev JOIN grid
       |    ON ev.ts_s <= grid.eval_ts AND ev.ts_s > grid.eval_ts - 7200)""".stripMargin

  /** stdvar/stddev_over_time mirror: the tsdbStddev integer-cents
    * moment scheme applied per (series-group, eval point) of the
    * over_time grid join — identical double op order, round(…,6).
    */
  private val tsdbPromqlStdvarOverTime =
    overTimeCtes(",\n         CAST(round(value * 100) AS BIGINT) AS cents") +
    s""",
       |m AS (
       |  SELECT cohort, user_id, eval_ts, count(*) AS n,
       |         CAST(SUM(cents) AS BIGINT) AS sum_c,
       |         CAST(SUM(cents * cents) AS BIGINT) AS sum2_c
       |  FROM j GROUP BY 1, 2, 3)
       |SELECT cohort, user_id, eval_ts, n,
       |       round((CAST(sum2_c AS DOUBLE) / CAST(n AS DOUBLE) -
       |              (CAST(sum_c AS DOUBLE) / CAST(n AS DOUBLE)) *
       |              (CAST(sum_c AS DOUBLE) / CAST(n AS DOUBLE))) / 1e4, 6)
       |         AS stdvar_v,
       |       round(sqrt((CAST(sum2_c AS DOUBLE) / CAST(n AS DOUBLE) -
       |              (CAST(sum_c AS DOUBLE) / CAST(n AS DOUBLE)) *
       |              (CAST(sum_c AS DOUBLE) / CAST(n AS DOUBLE))) / 1e4), 6)
       |         AS stddev_v
       |FROM m ORDER BY cohort, user_id, eval_ts""".stripMargin

  /** present_over_time mirror: one 1.0 row per (series-group, eval
    * point) holding at least one windowed sample. */
  private val tsdbPromqlPresentOverTime =
    overTimeCtes() +
    s"""
       |SELECT DISTINCT cohort, user_id, eval_ts,
       |       CAST(1.0 AS DOUBLE) AS present_v
       |FROM j ORDER BY cohort, user_id, eval_ts""".stripMargin

  /** avg_over_time threshold mirror: the over_time grid join filtered
    * post-aggregation on the DECIMAL-exact mean, PromQL drop
    * semantics. */
  private val tsdbPromqlOverTimeThreshold =
    overTimeCtes() +
    s""",
       |m AS (
       |  SELECT cohort, user_id, eval_ts, count(*) AS n,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) /
       |           count(*) AS avg_v
       |  FROM j GROUP BY 1, 2, 3)
       |SELECT * FROM m WHERE avg_v > 50
       |ORDER BY cohort, user_id, eval_ts""".stripMargin

  /** round(clamp(sum, lo, hi), 10) mirror: DECIMAL-exact daily sums,
    * then the same single IEEE ops — LEAST/GREATEST band, Prometheus
    * ties-up rounding floor(v/to + 0.5)*to. */
  private val tsdbPromqlMathChain =
    s"""WITH a AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS - ($tsS % 86400) AS bucket_start,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1, 2)
       |SELECT cohort, bucket_start,
       |       floor(LEAST(GREATEST(sum_v, 1000.0), 100000.0) / 10.0 + 0.5)
       |         * 10.0 AS result
       |FROM a ORDER BY cohort, bucket_start""".stripMargin

  /** absent() both directions: marker row for the dead selector, empty
    * for the live one.
    */
  private val tsdbAbsent =
    s"""SELECT selector, value FROM (
       |  SELECT 'no_such_metric' AS selector, CAST(1.0 AS DOUBLE) AS value
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM events
       |    WHERE event_type = 'no_such_metric' AND $tsS BETWEEN $T0 AND $T1)
       |  UNION ALL
       |  SELECT 'click' AS selector, CAST(1.0 AS DOUBLE) AS value
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM events
       |    WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1))
       |ORDER BY selector""".stripMargin

  /** quantile_over_time mirror — quantile_cont matches Spark's exact
    * `percentile` interpolation; round(…, 6) absorbs the engines'
    * interpolation-order ULP differences (same contract as
    * q_percentiles).
    */
  private val tsdbQuantileOverTime =
    s"""SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |       $tsS - ($tsS % 3600) AS bucket_start,
       |       count(*) AS n,
       |       round(quantile_cont(value, 0.95), 6) AS q_v
       |FROM events
       |WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** mad_over_time mirror — median of absolute deviations from the
    * per-(cohort, bucket) median, both exact quantile_cont; the tie-free
    * floor-round matches the gauge `mad`'s final quantization
    * (Tsdb.gaugeAggregate) byte-for-byte.
    */
  private val tsdbPromqlMad =
    s"""WITH t AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS - ($tsS % 3600) AS bucket_start, value
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1),
       |m AS (
       |  SELECT cohort, bucket_start, value,
       |         quantile_cont(value, 0.5)
       |           OVER (PARTITION BY cohort, bucket_start) AS med
       |  FROM t)
       |SELECT cohort, bucket_start, count(*) AS n,
       |       floor(quantile_cont(abs(value - med), 0.5) * 1e6 + 0.5) / 1e6
       |         AS mad_v
       |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Training-shard mirror: the naive global prefix sum the distributed
    * two-level scan replaces, grouped into 64-sequence shards.
    */
  private val corpusShards =
    """WITH t AS (
      |  SELECT doc_id,
      |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
      |           AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |         CAST(COALESCE(SUM(n_tokens) OVER (
      |           ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           AS BIGINT) AS "offset"
      |  FROM t),
      |s AS (
      |  SELECT doc_id, n_tokens, ("offset" // 512) // 64 AS shard FROM c)
      |SELECT shard, count(*) AS n_docs,
      |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
      |FROM s GROUP BY shard ORDER BY shard""".stripMargin

  /** Vocabulary census mirror: lowercased whitespace tokens, term census,
    * single-row fold.
    */
  private val textVocab =
    """WITH toks AS (
      |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
      |  FROM documents
      |  WHERE text IS NOT NULL AND trim(text) <> ''),
      |census AS (
      |  SELECT tok, count(*) AS tf FROM toks GROUP BY tok)
      |SELECT CAST(SUM(tf) AS BIGINT) AS n_tokens,
      |       count(*) AS n_vocab,
      |       CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_hapax,
      |       max(tf) AS max_tf
      |FROM census""".stripMargin

  /** Compacted-store stats mirror: chunked appends + compaction must be
    * invisible — same stats as a single-batch ingest of the window.
    */
  private val tsdbCompactStats =
    s"""SELECT ($tsS // 86400) AS seg,
       |       count(*) AS n_points,
       |       count(DISTINCT event_type || '|' || CAST(user_id AS VARCHAR)) AS n_series,
       |       min($tsS) AS min_ts, max($tsS) AS max_ts
       |FROM events WHERE $tsS BETWEEN $T0 AND $T1
       |GROUP BY 1 ORDER BY seg""".stripMargin

  private val qJsonExtract =
    """SELECT event_type,
      |       count(CAST(json_extract(props, '$.k') AS BIGINT)) AS n,
      |       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |       min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
      |       max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  private val qCsvRoundtrip =
    """SELECT event_type, count(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
      |       min(event_id) AS min_id, max(event_id) AS max_id
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** JSON round-trip is lossless for these columns, so the oracle is the
    * same aggregation over the original rows (as with the CSV round-trip).
    */
  private val qJsonRoundtrip =
    """SELECT event_type, count(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
      |       min(event_id) AS min_id, max(event_id) AS max_id
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** PII redaction mirror: regexp_extract_all counts non-overlapping
    * matches like Spark's regexp_count; digit runs counted after the
    * email masking pass, matching the sequential scrub.
    */
  private val textRedact =
    """SELECT doc_id,
      |       len(regexp_extract_all(text,
      |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
      |       len(regexp_extract_all(
      |           regexp_replace(text,
      |             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
      |             '<EMAIL>', 'g'),
      |           '[0-9]{6,}')) AS n_nums,
      |       length(regexp_replace(
      |           regexp_replace(text,
      |             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
      |             '<EMAIL>', 'g'),
      |           '[0-9]{6,}', '<NUM>', 'g')) AS n_chars_redacted
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Decontamination mirror: distinct word 4-grams; bench = doc_id%20==0. */
  private val textDecontam =
    """WITH w AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
      |                        || ' ' || ws[i+3]
      |                        for i in range(1, len(ws) - 2)]) AS s
      |  FROM w),
      |bench AS (
      |  SELECT DISTINCT unnest(s) AS tok FROM sh WHERE doc_id % 20 = 0),
      |train AS (
      |  SELECT doc_id, unnest(s) AS tok FROM sh WHERE doc_id % 20 <> 0)
      |SELECT doc_id, count(*) AS n_hits
      |FROM train WHERE tok IN (SELECT tok FROM bench)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Repetition mirror: dup fraction over ALL (non-distinct) 1/2/3-grams. */
  private val textRepetition =
    """WITH w AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, ws,
      |         [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))] AS g2,
      |         [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
      |          for i in range(1, len(ws) - 1)] AS g3
      |  FROM w)
      |SELECT doc_id,
      |       len(ws) AS n_words,
      |       CASE WHEN len(ws) > 0 THEN round(
      |         CAST(len(ws) - len(list_distinct(ws)) AS DOUBLE) /
      |         CAST(len(ws) AS DOUBLE), 6) ELSE 0.0 END AS dup_word_frac,
      |       CASE WHEN len(g2) > 0 THEN round(
      |         CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) /
      |         CAST(len(g2) AS DOUBLE), 6) ELSE 0.0 END AS dup_2gram_frac,
      |       CASE WHEN len(g3) > 0 THEN round(
      |         CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) /
      |         CAST(len(g3) AS DOUBLE), 6) ELSE 0.0 END AS dup_3gram_frac
      |FROM g ORDER BY doc_id""".stripMargin

  /** Quality-gate mirror: same composite quality as textQuality, then a
    * per-language percent_rank with the bottom 20% dropped.
    */
  private val textQualityFilter: String = {
    s"""WITH t AS (
       |  ${qualityCountsCte("lang")}),
       |q AS (
       |  SELECT doc_id, lang,
       |         $qualityExprSql AS quality
       |  FROM t),
       |r AS (
       |  SELECT doc_id, lang, quality,
       |         round(percent_rank() OVER (PARTITION BY lang ORDER BY quality), 6) AS q_rank
       |  FROM q)
       |SELECT doc_id, lang, quality, q_rank FROM r
       |WHERE q_rank >= 0.2 ORDER BY doc_id""".stripMargin
  }

  /** md5-derived u32 shared by the sampling mirrors (identical to Spark's
    * `conv(substring(md5(salt || id), 1, 8), 16, 10)`).
    */
  private def mdU32(salt: String) =
    s"""list_reduce(list_transform(range(1, 9),
       |           i -> strpos('0123456789abcdef',
       |                       substring(md5('$salt' || CAST(doc_id AS VARCHAR)), i, 1)) - 1),
       |         (a, x) -> a * 16 + x)""".stripMargin

  private val mixSample =
    s"""WITH u AS (
       |  SELECT doc_id, source, lang, ${mdU32("mx")} AS u32
       |  FROM documents)
       |SELECT doc_id, source, lang FROM u
       |WHERE u32 < CAST(FLOOR(
       |  CASE WHEN source IN ('src0','src1','src2','src3') THEN 1.0
       |       WHEN source IN ('src4','src5','src6','src7','src8','src9') THEN 0.5
       |       ELSE 0.25 END * 4294967296) AS BIGINT)
       |ORDER BY doc_id""".stripMargin

  // temperature mixture (alpha=0.5 over lang, target 450): rate_s =
  // round(least(1, 450*pow(n,0.5)/denom/n), 6) — the 6-decimal rounding
  // is the repo's cross-engine transcendental convention
  private val mixTemperature =
    s"""WITH c AS (
       |  SELECT lang, CAST(count(*) AS DOUBLE) AS n
       |  FROM documents GROUP BY 1),
       |d AS (SELECT SUM(pow(n, 0.5)) AS denom FROM c),
       |r AS (
       |  SELECT lang,
       |         ROUND(LEAST(1.0, 450 * pow(n, 0.5) / denom / n), 6)
       |           AS rate
       |  FROM c, d),
       |u AS (
       |  SELECT doc_id, lang, source, ${mdU32("tm")} AS u32
       |  FROM documents)
       |SELECT u.doc_id, u.lang, u.source
       |FROM u JOIN r USING (lang)
       |WHERE u32 < CAST(FLOOR(rate * 4294967296) AS BIGINT)
       |ORDER BY doc_id""".stripMargin

  /** Token-budget mixture mirror — temperatureMix's rate formula over
    * per-source TOKEN totals (ws token counts), 12k-token budget at
    * alpha 0.5, same u32 filter (salt 'tb').
    */
  private val mixTokenBudget =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |         CAST(len(regexp_split_to_array(trim(text), '\\s+'))
       |           AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT source, CAST(SUM(n_tokens) AS DOUBLE) AS n
       |  FROM t GROUP BY 1),
       |d AS (SELECT SUM(pow(n, 0.5)) AS denom FROM c),
       |r AS (
       |  SELECT source,
       |         ROUND(LEAST(1.0, 12000 * pow(n, 0.5) / denom / n), 6)
       |           AS rate
       |  FROM c, d),
       |u AS (
       |  SELECT doc_id, source, n_tokens, ${mdU32("tb")} AS u32
       |  FROM t)
       |SELECT u.doc_id, u.source, u.n_tokens
       |FROM u JOIN r USING (source)
       |WHERE u32 < CAST(FLOOR(rate * 4294967296) AS BIGINT)
       |ORDER BY doc_id""".stripMargin

  private val mixSplit =
    s"""WITH u AS (
       |  SELECT doc_id, source, ${mdU32("sp")} AS u32
       |  FROM documents)
       |SELECT doc_id, source,
       |       CASE WHEN u32 < CAST(FLOOR(0.8 * 4294967296) AS BIGINT) THEN 'train'
       |            WHEN u32 < CAST(FLOOR(0.9 * 4294967296) AS BIGINT) THEN 'val'
       |            ELSE 'test' END AS split
       |FROM u ORDER BY doc_id""".stripMargin

  /** Sequence-packing mirror: naive global cumsum (the oracle can afford
    * the single-window form the distributed operator exists to avoid).
    * DuckDB SUM(BIGINT) yields HUGEINT — cast back. `offset` quoted (DuckDB
    * keyword).
    */
  private val packSequences =
    """WITH t AS (
      |  SELECT doc_id,
      |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
      |           AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |         CAST(COALESCE(SUM(n_tokens) OVER (
      |           ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           AS BIGINT) AS "offset"
      |  FROM t)
      |SELECT doc_id, n_tokens, "offset",
      |       "offset" // 512 AS seq_id,
      |       "offset" % 512 AS seq_off,
      |       ("offset" + n_tokens - 1) // 512 - "offset" // 512 + 1 AS n_seqs
      |FROM c ORDER BY doc_id""".stripMargin

  /** Passage-dedup mirror: aligned 3-word chunks via zipped unnest of a
    * position range and a slice comprehension; doc-distinct df census;
    * ordered string_agg reassembly.
    */
  private val dedupPassages =
    """WITH w AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      |  FROM documents),
      |n AS (
      |  SELECT doc_id, ws,
      |         CAST(ceil(len(ws) / 3.0) AS BIGINT) AS nch
      |  FROM w),
      |ch AS (
      |  SELECT doc_id,
      |         unnest(range(0, nch)) AS idx,
      |         unnest([array_to_string(ws[i*3+1 : i*3+3], ' ')
      |                 for i in range(0, nch)]) AS passage
      |  FROM n),
      |census AS (
      |  SELECT passage FROM ch
      |  GROUP BY passage HAVING count(DISTINCT doc_id) < 3),
      |agg AS (
      |  SELECT doc_id,
      |         string_agg(passage, ' ' ORDER BY idx) AS clean_text,
      |         count(*) AS n_kept
      |  FROM ch JOIN census USING (passage)
      |  GROUP BY doc_id)
      |SELECT n.doc_id,
      |       COALESCE(agg.clean_text, '') AS clean_text,
      |       n.nch AS n_passages,
      |       CAST(n.nch - COALESCE(agg.n_kept, 0) AS BIGINT) AS n_dropped
      |FROM n LEFT JOIN agg ON n.doc_id = agg.doc_id
      |ORDER BY n.doc_id""".stripMargin

  private val corpusStats =
    """WITH t AS (
      |  SELECT source,
      |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
      |           AS n_words
      |  FROM documents),
      |cells AS (
      |  SELECT source, LEAST(n_words // 50, 7) AS len_bucket,
      |         count(*) AS n_docs,
      |         CAST(sum(n_words) AS BIGINT) AS sum_tokens,
      |         min(n_words) AS min_tokens, max(n_words) AS max_tokens
      |  FROM t GROUP BY 1, 2),
      |tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_total FROM documents)
      |SELECT source, len_bucket, n_docs, sum_tokens, min_tokens, max_tokens,
      |       round(n_docs / n_total, 6) AS doc_share
      |FROM cells, tot
      |ORDER BY source, len_bucket""".stripMargin

  /** topk(3, sum by (cohort)(click[1h])) over the tsdbAggBy aggregation. */
  /** histogram_quantile(0.9, …) mirror: identical bucket CASE chain,
    * cumulative/total windows, Prometheus interpolation arithmetic in the
    * same operation order (all integer→double conversions + IEEE ops), so
    * `q` is bit-identical to the Spark plan.
    */
  private val tsdbHistogramQuantile =
    s"""WITH e AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS - ($tsS % 3600) AS bucket_start,
       |         CASE WHEN value <= 5.0 THEN 5.0
       |              WHEN value <= 10.0 THEN 10.0
       |              WHEN value <= 25.0 THEN 25.0
       |              WHEN value <= 50.0 THEN 50.0
       |              WHEN value <= 100.0 THEN 100.0
       |              WHEN value <= 250.0 THEN 250.0
       |              ELSE CAST('inf' AS DOUBLE) END AS le
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1),
       |g AS (
       |  SELECT cohort, bucket_start, le, count(*) AS cnt
       |  FROM e GROUP BY 1, 2, 3),
       |c AS (
       |  SELECT cohort, bucket_start, le, cnt,
       |         SUM(cnt) OVER (PARTITION BY cohort, bucket_start
       |                        ORDER BY le) AS cum,
       |         SUM(cnt) OVER (PARTITION BY cohort, bucket_start) AS total
       |  FROM g),
       |x AS (
       |  SELECT *,
       |         COALESCE(lag(cum) OVER (PARTITION BY cohort, bucket_start
       |                                 ORDER BY le), 0) AS prev_cum,
       |         lag(le) OVER (PARTITION BY cohort, bucket_start
       |                       ORDER BY le) AS prev_le,
       |         CAST(0.9 AS DOUBLE) * total AS target
       |  FROM c)
       |SELECT cohort, bucket_start, CAST(total AS BIGINT) AS n,
       |       CASE WHEN le = CAST('inf' AS DOUBLE) THEN 250.0
       |            ELSE COALESCE(prev_le, 0.0) +
       |                 (le - COALESCE(prev_le, 0.0)) *
       |                 (target - prev_cum) / cnt END AS q
       |FROM x WHERE cum >= target AND prev_cum < target
       |ORDER BY cohort, bucket_start""".stripMargin

  /** CANONICAL classic-histogram mirror — `histogram_quantile(0.9,
    * sum by (cohort, le)(rate(click[1h])))` over synthesized CUMULATIVE
    * bucket counters: per-(user, le) running counts (RANGE frame — ties
    * get one well-defined value), the engine's reset-robust per-series
    * lag over the [T0, T1] scan, per-(cohort, le, bucket) rate, then
    * the bucketQuantile chain (running-max monotone repair, rank
    * interpolation, highest finite bound at +Inf) in the exact Spark op
    * order. */
  private val tsdbPromqlHistqRate =
    s"""WITH e AS (
       |  SELECT user_id, CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, value
       |  FROM events WHERE event_type = 'click'),
       |b(le) AS (VALUES ('5'), ('10'), ('25'), ('50'), ('100'), ('250'),
       |          ('+Inf')),
       |x AS (
       |  SELECT e.user_id, e.cohort, e.ts_s, b.le,
       |         CASE WHEN b.le = '+Inf' OR e.value <= CAST(b.le AS DOUBLE)
       |              THEN 1 ELSE 0 END AS hit
       |  FROM e CROSS JOIN b),
       |c AS (
       |  SELECT user_id, cohort, le, ts_s,
       |         CAST(SUM(hit) OVER (PARTITION BY user_id, le ORDER BY ts_s
       |           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           AS DECIMAL(18,2)) AS v
       |  FROM x),
       |f AS (SELECT * FROM c WHERE ts_s BETWEEN $T0 AND $T1),
       |d AS (
       |  SELECT *, lag(v) OVER (PARTITION BY user_id, le
       |                         ORDER BY ts_s, v) AS prev
       |  FROM f),
       |dd AS (
       |  SELECT cohort, le, ts_s - (ts_s % 3600) AS bucket_start,
       |         CASE WHEN prev IS NULL THEN NULL
       |              WHEN v >= prev THEN v - prev
       |              ELSE v END AS delta
       |  FROM d),
       |agg AS (
       |  SELECT cohort, le, bucket_start,
       |         round(CAST(SUM(delta) AS DOUBLE) / 3600, 6) AS rate
       |  FROM dd WHERE delta IS NOT NULL GROUP BY 1, 2, 3),
       |m AS (
       |  SELECT cohort, bucket_start,
       |         CASE WHEN le = '+Inf' THEN CAST('Infinity' AS DOUBLE)
       |              ELSE CAST(le AS DOUBLE) END AS le_d,
       |         rate
       |  FROM agg),
       |mm AS (
       |  SELECT *, max(rate) OVER (PARTITION BY cohort, bucket_start
       |             ORDER BY le_d ROWS BETWEEN UNBOUNDED PRECEDING
       |             AND CURRENT ROW) AS vm
       |  FROM m),
       |ww AS (
       |  SELECT cohort, bucket_start, le_d, vm,
       |         COALESCE(lag(vm) OVER (PARTITION BY cohort, bucket_start
       |                                ORDER BY le_d), 0.0) AS prev_v,
       |         lag(le_d) OVER (PARTITION BY cohort, bucket_start
       |                         ORDER BY le_d) AS prev_le,
       |         max(vm) OVER (PARTITION BY cohort, bucket_start) AS total
       |  FROM mm),
       |t2 AS (SELECT *, CAST(0.9 AS DOUBLE) * total AS target FROM ww)
       |SELECT cohort, bucket_start, total,
       |       CASE WHEN le_d = CAST('Infinity' AS DOUBLE) THEN prev_le
       |            ELSE COALESCE(prev_le, 0.0) +
       |                 (le_d - COALESCE(prev_le, 0.0)) *
       |                 (target - prev_v) / (vm - prev_v) END AS q
       |FROM t2 WHERE vm >= target AND prev_v < target
       |ORDER BY cohort, bucket_start""".stripMargin

  /** Canonical SLO alert mirror — `histogram_quantile(0.9, sum by
    * (cohort, le)(rate(click[1h]))) > 50 for 2h`: the histq_rate CTE
    * chain, thresholded, then the gaps-and-islands for-clock on the 1h
    * grid (the alert_rule_slide scheme). */
  private val tsdbAlertRuleHistq =
    s"""WITH e AS (
       |  SELECT user_id, CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, value
       |  FROM events WHERE event_type = 'click'),
       |b(le) AS (VALUES ('5'), ('10'), ('25'), ('50'), ('100'), ('250'),
       |          ('+Inf')),
       |x AS (
       |  SELECT e.user_id, e.cohort, e.ts_s, b.le,
       |         CASE WHEN b.le = '+Inf' OR e.value <= CAST(b.le AS DOUBLE)
       |              THEN 1 ELSE 0 END AS hit
       |  FROM e CROSS JOIN b),
       |c AS (
       |  SELECT user_id, cohort, le, ts_s,
       |         CAST(SUM(hit) OVER (PARTITION BY user_id, le ORDER BY ts_s
       |           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           AS DECIMAL(18,2)) AS v
       |  FROM x),
       |f AS (SELECT * FROM c WHERE ts_s BETWEEN $T0 AND $T1),
       |d AS (
       |  SELECT *, lag(v) OVER (PARTITION BY user_id, le
       |                         ORDER BY ts_s, v) AS prev
       |  FROM f),
       |dd AS (
       |  SELECT cohort, le, ts_s - (ts_s % 3600) AS bucket_start,
       |         CASE WHEN prev IS NULL THEN NULL
       |              WHEN v >= prev THEN v - prev
       |              ELSE v END AS delta
       |  FROM d),
       |agg AS (
       |  SELECT cohort, le, bucket_start,
       |         round(CAST(SUM(delta) AS DOUBLE) / 3600, 6) AS rate
       |  FROM dd WHERE delta IS NOT NULL GROUP BY 1, 2, 3),
       |m AS (
       |  SELECT cohort, bucket_start,
       |         CASE WHEN le = '+Inf' THEN CAST('Infinity' AS DOUBLE)
       |              ELSE CAST(le AS DOUBLE) END AS le_d,
       |         rate
       |  FROM agg),
       |mm AS (
       |  SELECT *, max(rate) OVER (PARTITION BY cohort, bucket_start
       |             ORDER BY le_d ROWS BETWEEN UNBOUNDED PRECEDING
       |             AND CURRENT ROW) AS vm
       |  FROM m),
       |ww AS (
       |  SELECT cohort, bucket_start, le_d, vm,
       |         COALESCE(lag(vm) OVER (PARTITION BY cohort, bucket_start
       |                                ORDER BY le_d), 0.0) AS prev_v,
       |         lag(le_d) OVER (PARTITION BY cohort, bucket_start
       |                         ORDER BY le_d) AS prev_le,
       |         max(vm) OVER (PARTITION BY cohort, bucket_start) AS total
       |  FROM mm),
       |t2 AS (SELECT *, CAST(0.9 AS DOUBLE) * total AS target FROM ww),
       |qq AS (
       |  SELECT cohort, bucket_start,
       |         CASE WHEN le_d = CAST('Infinity' AS DOUBLE) THEN prev_le
       |              ELSE COALESCE(prev_le, 0.0) +
       |                   (le_d - COALESCE(prev_le, 0.0)) *
       |                   (target - prev_v) / (vm - prev_v) END AS value
       |  FROM t2 WHERE vm >= target AND prev_v < target),
       |act AS (SELECT * FROM qq WHERE value > 50),
       |r AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY cohort ORDER BY bucket_start) AS rn
       |  FROM act),
       |stx AS (
       |  SELECT *, min(bucket_start) OVER (
       |    PARTITION BY cohort, bucket_start - rn * 3600) AS s0
       |  FROM r)
       |SELECT 'slo_p90_high' AS alertname, cohort, bucket_start, value,
       |       CASE WHEN bucket_start - s0 >= 7200 THEN 'firing'
       |            ELSE 'pending' END AS state
       |FROM stx ORDER BY cohort, bucket_start""".stripMargin

  /** predict_linear mirror: regression moments in exact HUGEINT (matching
    * the Spark plan's decimal(38,0)); the only floating-point steps are the
    * final casts and divisions, identical in both engines.
    */
  private val tsdbPredictLinear = {
    val xp = (T1 + 3600L) - T0
    s"""WITH e AS (
       |  SELECT user_id,
       |         CAST($tsS - $T0 AS HUGEINT) AS x,
       |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT) AS yc
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1),
       |a AS (
       |  SELECT user_id, CAST(count(*) AS HUGEINT) AS n,
       |         SUM(x) AS sx, SUM(yc) AS syc,
       |         SUM(x*yc) AS sxyc, SUM(x*x) AS sxx
       |  FROM e GROUP BY 1),
       |b AS (
       |  SELECT user_id, n, sx, syc,
       |         n*sxyc - sx*syc AS numc,
       |         n*sxx - sx*sx AS den
       |  FROM a)
       |SELECT user_id, CAST(n AS BIGINT) AS n,
       |       CAST(numc AS DOUBLE) / CAST(den AS DOUBLE) / 100.0
       |         AS slope_per_sec,
       |       CAST(syc*den + numc*(n*CAST($xp AS HUGEINT) - sx) AS DOUBLE)
       |         / CAST(n*den AS DOUBLE) / 100.0 AS predicted
       |FROM b WHERE n >= 2 AND den <> 0
       |ORDER BY user_id""".stripMargin
  }

  /** label_replace mirror: the anchored full-match capture expansion is the
    * same RE across Java regex and RE2 for this digit pattern.
    */
  /** label_join mirror: the joined label is plain string concatenation
    * of the source label values with the separator.
    */
  private val tsdbLabelJoin =
    s"""SELECT CAST(user_id % 10 AS VARCHAR) || '-' ||
       |         CAST(user_id AS VARCHAR) AS key,
       |       count(*) AS n,
       |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
       |FROM events
       |WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |GROUP BY 1 ORDER BY 1""".stripMargin

  private val tsdbLabelReplace =
    s"""SELECT regexp_replace(CAST(user_id AS VARCHAR),
       |         '^(?:(\\d)\\d*)$$', '\\1') AS band,
       |       count(*) AS n,
       |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
       |FROM events
       |WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The parser-reachable label_replace/label_join twins: the same
    * relabeling, day-bucketed through the gauge moments' grid. */
  private val tsdbPromqlLabelReplace =
    s"""SELECT regexp_replace(CAST(user_id AS VARCHAR),
       |         '^(?:(\\d)\\d*)$$', '\\1') AS band,
       |       $tsS - ($tsS % 86400) AS bucket_start,
       |       count(*) AS n,
       |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
       |FROM events
       |WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val tsdbPromqlLabelJoin =
    s"""SELECT CAST(user_id % 10 AS VARCHAR) || '-' ||
       |         CAST(user_id AS VARCHAR) AS key,
       |       $tsS - ($tsS % 86400) AS bucket_start,
       |       count(*) AS n,
       |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
       |FROM events
       |WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** deriv(): the slope-only projection of the predict_linear fit. */
  private val tsdbPromqlDeriv =
    s"""WITH e AS (
       |  SELECT user_id,
       |         CAST($tsS - $T0 AS HUGEINT) AS x,
       |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT) AS yc
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1),
       |a AS (
       |  SELECT user_id, CAST(count(*) AS HUGEINT) AS n,
       |         SUM(x) AS sx, SUM(yc) AS syc,
       |         SUM(x*yc) AS sxyc, SUM(x*x) AS sxx
       |  FROM e GROUP BY 1),
       |b AS (
       |  SELECT user_id, n,
       |         n*sxyc - sx*syc AS numc,
       |         n*sxx - sx*sx AS den
       |  FROM a)
       |SELECT user_id, CAST(n AS BIGINT) AS n,
       |       CAST(numc AS DOUBLE) / CAST(den AS DOUBLE) / 100.0
       |         AS slope_per_sec
       |FROM b WHERE n >= 2 AND den <> 0
       |ORDER BY user_id""".stripMargin

  /** predict_linear offset 1d: the fit window shifts back one day, x is
    * re-origined to the shifted start, and the horizon is unchanged
    * (xp = atSec - requestedStart, offset-free by construction). */
  private val tsdbPromqlPredictOffset = {
    val xp = (T1 + 3600L) - (T0 + 86400L)
    val wEnd = T1 - 86400L
    s"""WITH e AS (
       |  SELECT user_id,
       |         CAST($tsS - $T0 AS HUGEINT) AS x,
       |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT) AS yc
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $wEnd),
       |a AS (
       |  SELECT user_id, CAST(count(*) AS HUGEINT) AS n,
       |         SUM(x) AS sx, SUM(yc) AS syc,
       |         SUM(x*yc) AS sxyc, SUM(x*x) AS sxx
       |  FROM e GROUP BY 1),
       |b AS (
       |  SELECT user_id, n, sx, syc,
       |         n*sxyc - sx*syc AS numc,
       |         n*sxx - sx*sx AS den
       |  FROM a)
       |SELECT user_id, CAST(n AS BIGINT) AS n,
       |       CAST(numc AS DOUBLE) / CAST(den AS DOUBLE) / 100.0
       |         AS slope_per_sec,
       |       CAST(syc*den + numc*(n*CAST($xp AS HUGEINT) - sx) AS DOUBLE)
       |         / CAST(n*den AS DOUBLE) / 100.0 AS predicted
       |FROM b WHERE n >= 2 AND den <> 0
       |ORDER BY user_id""".stripMargin
  }

  /** Day-over-day sum-by served from the rollup tier: the raw-data
    * answer on the shifted window, reported at the requested grid. */
  private val tsdbRollupAggOffset =
    s"""SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |       ($tsS - ($tsS % 3600)) + 86400 AS bucket_start,
       |       count(*) AS n,
       |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
       |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_v,
       |       min(value) AS min_v, max(value) AS max_v
       |FROM events
       |WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND ${T1 - 86400L}
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** `topk(3, sum by (cohort)(rate(click[1h])))` — tsdbAggIncrease's
    * per-series positive-delta CTE chain, then a per-bucket rank on the
    * double-cast increase (the exact column Spark ranks on), tie-broken
    * on the grouping label.
    */
  private val tsdbPromqlTopkRate =
    s"""WITH e AS (
       |  SELECT user_id, CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1),
       |d AS (
       |  SELECT *, lag(v) OVER (PARTITION BY user_id
       |                         ORDER BY ts_s, v) AS prev
       |  FROM e),
       |x AS (
       |  SELECT cohort, ts_s - (ts_s % 3600) AS bucket_start,
       |         CASE WHEN prev IS NULL THEN NULL
       |              WHEN v >= prev THEN v - prev
       |              ELSE v END AS delta
       |  FROM d),
       |agg AS (
       |  SELECT cohort, bucket_start,
       |         CAST(SUM(delta) AS DOUBLE) AS increase,
       |         round(CAST(SUM(delta) AS DOUBLE) / 3600, 6) AS rate_per_sec
       |  FROM x WHERE delta IS NOT NULL
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY bucket_start
       |                               ORDER BY increase DESC, cohort) AS rk
       |  FROM agg)
       |SELECT cohort, bucket_start, rk, increase, rate_per_sec
       |FROM r WHERE rk <= 3
       |ORDER BY bucket_start, rk""".stripMargin

  private val tsdbTopk =
    s"""WITH agg AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS - ($tsS % 3600) AS bucket_start,
       |         count(*) AS n,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY bucket_start
       |                               ORDER BY sum_v DESC, cohort) AS rk
       |  FROM agg)
       |SELECT cohort, bucket_start, rk, n, sum_v
       |FROM r WHERE rk <= 3
       |ORDER BY bucket_start, rk""".stripMargin

  /** The group-hash u32 of the 3.x sampling aggregators — identical to
    * Tsdb.groupU32's `conv(substring(md5('lk' || cohort), 1, 8), 16, 10)`
    * (single by-label, so no separator appears). */
  private val limitU32 =
    """CAST(list_reduce(list_transform(range(1, 9),
      |      i -> strpos('0123456789abcdef',
      |                  substring(md5('lk' || cohort), i, 1)) - 1),
      |    (a, x) -> a * 16 + x) AS BIGINT)""".stripMargin

  /** limitk mirror: the same per-bucket aggregation ranked by the
    * deterministic group hash instead of the value. */
  private val tsdbLimitk =
    s"""WITH agg AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS - ($tsS % 3600) AS bucket_start,
       |         count(*) AS n,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1, 2),
       |u AS (SELECT *, $limitU32 AS u32 FROM agg),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY bucket_start
       |                               ORDER BY u32, cohort) AS rk
       |  FROM u)
       |SELECT cohort, bucket_start, rk, n, sum_v
       |FROM r WHERE rk <= 3
       |ORDER BY bucket_start, rk""".stripMargin

  /** limit_ratio mirror: the map-side u32 threshold filter. */
  private val tsdbLimitRatio =
    s"""WITH agg AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS cohort,
       |         $tsS - ($tsS % 3600) AS bucket_start,
       |         count(*) AS n,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
       |  FROM events
       |  WHERE event_type = 'click' AND $tsS BETWEEN $T0 AND $T1
       |  GROUP BY 1, 2),
       |u AS (SELECT *, $limitU32 AS u32 FROM agg)
       |SELECT cohort, bucket_start, n, sum_v FROM u
       |WHERE u32 < CAST(FLOOR(0.5 * 4294967296) AS BIGINT)
       |ORDER BY cohort, bucket_start""".stripMargin

  val all: Map[String, String] = Map(
    "q_json_extract" -> qJsonExtract,
    "q_csv_roundtrip" -> qCsvRoundtrip,
    "q_json_roundtrip" -> qJsonRoundtrip,
    "text_redact" -> textRedact,
    "multimodal_meta_batch" -> multimodalMeta,
    "q_rollup" -> qRollup,
    "q_cube" -> qCube,
    "q_grouping_sets" -> qGroupingSets,
    "q_window_analytics" -> qWindowAnalytics,
    "q_window_ranks" -> qWindowRanks,
    "q_sliding_agg" -> qSlidingAgg,
    "q_date_parts" -> qDateParts,
    "tsdb_increase" -> tsdbIncrease,
    "q_pivot" -> qPivot,
    "q_percentiles" -> qPercentiles,
    "ann_topk_agg" -> annTopk,
    "tsdb_ingest_stats" -> tsdbIngestStats,
    "tsdb_range_scan" -> tsdbRangeScan,
    "tsdb_range_chunks" -> tsdbRangeScan,
    "tsdb_range_regex" -> tsdbRangeRegex,
    "tsdb_range_neq" -> tsdbRangeNeq,
    "tsdb_series" -> tsdbSeries,
    "tsdb_label_values" -> tsdbLabelValues,
    "tsdb_label_values_meta" -> tsdbLabelValuesMeta,
    "tsdb_label_names" -> tsdbLabelNames,
    "tsdb_bucket_agg" -> tsdbBucketAgg,
    "tsdb_delta" -> tsdbDelta,
    "tsdb_agg_by" -> tsdbAggBy,
    "tsdb_histogram_quantile" -> tsdbHistogramQuantile,
    "tsdb_predict_linear" -> tsdbPredictLinear,
    "tsdb_label_replace" -> tsdbLabelReplace,
    "tsdb_promql_label_replace" -> tsdbPromqlLabelReplace,
    "tsdb_promql_label_join" -> tsdbPromqlLabelJoin,
    "tsdb_promql_deriv" -> tsdbPromqlDeriv,
    "tsdb_promql_predict_offset" -> tsdbPromqlPredictOffset,
    "tsdb_rollup_agg_offset" -> tsdbRollupAggOffset,
    "tsdb_promql_histq" -> tsdbHistogramQuantile,
    "tsdb_promql_histq_rate" -> tsdbPromqlHistqRate,
    "tsdb_alert_rule_histq" -> tsdbAlertRuleHistq,
    "tsdb_quantile_over_time" -> tsdbQuantileOverTime,
    "tsdb_promql_mad" -> tsdbPromqlMad,
    "tsdb_offset" -> tsdbOffset,
    "tsdb_bottomk" -> tsdbBottomk,
    "tsdb_count_values" -> tsdbCountValues,
    "tsdb_over_time" -> tsdbOverTime,
    "tsdb_ts_of" -> tsdbTsOf,
    "tsdb_promql_stdvar_over_time" -> tsdbPromqlStdvarOverTime,
    "tsdb_promql_present_over_time" -> tsdbPromqlPresentOverTime,
    "tsdb_promql_overtime_threshold" -> tsdbPromqlOverTimeThreshold,
    "tsdb_promql_math_chain" -> tsdbPromqlMathChain,
    "tsdb_stddev" -> tsdbStddev,
    "tsdb_absent" -> tsdbAbsent,
    "tsdb_resets" -> tsdbResets,
    "tsdb_changes" -> tsdbChanges,
    "tsdb_irate" -> tsdbIrate,
    "tsdb_absent_over_time" -> tsdbAbsentOverTime,
    "tsdb_group_left" -> tsdbGroupLeft,
    "tsdb_group_left_carry" -> tsdbGroupLeftCarry,
    "tsdb_label_join" -> tsdbLabelJoin,
    "tsdb_selector_scan" -> tsdbSelectorScan,
    "tsdb_ratio" -> tsdbRatio,
    "tsdb_ratio_rollup" -> tsdbRatio,
    // the PromQL string front-end compiles onto the same operators, so
    // the compiled queries share their direct twins' oracles verbatim
    "tsdb_promql_topk" -> tsdbTopk,
    "tsdb_promql_ratio" -> tsdbRatio,
    "tsdb_promql_rate" -> tsdbPromqlRate,
    "tsdb_promql_topk_rate" -> tsdbPromqlTopkRate,
    "tsdb_promql_ignoring" -> tsdbGroupLeft,
    "tsdb_promql_bool" -> tsdbPromqlBool,
    "tsdb_promql_bool_vv" -> tsdbPromqlBoolVv,
    "tsdb_promql_cmp_vv" -> tsdbPromqlCmpVv,
    "tsdb_promql_cmp_on" -> tsdbPromqlCmpOn,
    "tsdb_promql_cmp_rate" -> tsdbPromqlCmpRate,
    "tsdb_promql_group" -> tsdbPromqlGroup,
    "tsdb_promql_sort" -> tsdbPromqlSort,
    "tsdb_promql_hour" -> tsdbPromqlHour,
    "tsdb_promql_quantile_rate" -> tsdbPromqlQuantileRate,
    "tsdb_promql_subquery_rate" -> tsdbPromqlSubqueryRate,
    "tsdb_promql_subsub" -> tsdbPromqlSubsub,
    "tsdb_promql_sub3" -> tsdbPromqlSub3,
    "tsdb_promql_subquery_incr_rate" -> tsdbPromqlSubqueryIncrRate,
    "tsdb_promql_subquery_irate_rate" -> tsdbPromqlSubqueryIrateRate,
    "tsdb_promql_subquery_rate_outer" -> tsdbPromqlSubqueryRateOuter,
    "tsdb_promql_subquery_deriv" -> tsdbPromqlSubqueryDeriv,
    "tsdb_promql_subquery_predict" -> tsdbPromqlSubqueryPredict,
    "tsdb_promql_subquery_resets" -> tsdbPromqlSubqueryResets,
    "tsdb_promql_subquery_changes" -> tsdbPromqlSubqueryChanges,
    "tsdb_promql_subquery_delta" -> tsdbPromqlSubqueryDelta,
    "tsdb_promql_subquery_gspread" -> tsdbPromqlSubqueryGspread,
    "tsdb_promql_subquery_deriv_rate" -> tsdbPromqlSubqueryDerivRate,
    "tsdb_promql_subquery_predict_gauge" -> tsdbPromqlSubqueryPredictGauge,
    "tsdb_promql_subquery_changes_rate" -> tsdbPromqlSubqueryChangesRate,
    "tsdb_promql_subquery_rspread" -> tsdbPromqlSubqueryRspread,
    "tsdb_promql_subquery_dspread" -> tsdbPromqlSubqueryDspread,
    "tsdb_promql_subquery_aggsum" -> tsdbPromqlSubqueryAggsum,
    "tsdb_promql_subquery_quant" -> tsdbPromqlSubqueryQuant,
    "tsdb_promql_subquery_mad" -> tsdbPromqlSubqueryMad,
    "tsdb_promql_subquery_moment" -> tsdbPromqlSubqueryMoment,
    "tsdb_promql_subquery_spread" -> tsdbPromqlSubquerySpread,
    "tsdb_alert_rule_subq" -> tsdbAlertRuleSubq,
    "tsdb_alert_rule_slide" -> tsdbAlertRuleSlide,
    "tsdb_recording_rule_subq" -> tsdbRecordingRuleSubq,
    "tsdb_promql_subquery_sprinner" -> tsdbPromqlSubquerySprinner,
    "tsdb_promql_subquery_qinner" -> tsdbPromqlSubqueryQinner,
    "tsdb_promql_subquery_ratio" -> tsdbPromqlSubqueryRatio,
    "tsdb_promql_subquery_topk" -> tsdbPromqlSubqueryTopk,
    "tsdb_promql_subquery_offset" -> tsdbPromqlSubqueryOffset,
    "tsdb_promql_subquery_gauge" -> tsdbPromqlSubqueryGauge,
    "tsdb_promql_delta" -> tsdbPromqlDelta,
    "tsdb_promql_scalar" -> tsdbPromqlScalar,
    "tsdb_promql_scalar_alone" -> tsdbPromqlScalarAlone,
    "tsdb_promql_time_alone" -> tsdbPromqlTimeAlone,
    "tsdb_promql_mod" -> tsdbPromqlMod,
    "tsdb_promql_pow" -> tsdbPromqlPow,
    "tsdb_promql_atan2" -> tsdbPromqlAtan2,
    "tsdb_promql_trig" -> tsdbPromqlTrig,
    "tsdb_promql_at" -> tsdbPromqlAt,
    "tsdb_promql_holt" -> tsdbPromqlHolt,
    "tsdb_promql_time" -> tsdbPromqlTime,
    "tsdb_promql_or_vector" -> tsdbPromqlOrVector,
    "tsdb_alert_rule" -> tsdbAlertRule,
    "tsdb_alert_rule_wo" -> tsdbAlertRuleWo,
    "tsdb_promql_ratio_wo" -> tsdbPromqlRatioWo,
    "tsdb_alert_rule_q" -> tsdbAlertRuleQ,
    "tsdb_recording_rule" -> tsdbRecordingRule,
    "tsdb_recording_rule_q" -> tsdbRecordingRuleQ,
    "tsdb_promql_share" -> tsdbPromqlShare,
    "tsdb_promql_and" -> tsdbPromqlAnd,
    "tsdb_promql_unless" -> tsdbPromqlUnless,
    "tsdb_promql_maxavg" -> tsdbPromqlMaxAvg,
    "tsdb_promql_ratio_matched" -> tsdbPromqlRatioMatched,
    // the [2h:1h] subquery compiles onto the same per-series moments
    // (step 1h, range 2h) as tsdb_over_time — identical rows, shared
    // oracle
    "tsdb_promql_subquery" -> tsdbOverTime,
    "tsdb_promql_dod" -> tsdbPromqlDod,
    "tsdb_promql_avg_rate" -> tsdbPromqlAvgRate,
    "tsdb_promql_clamp" -> tsdbPromqlClamp,
    "tsdb_group_right" -> tsdbGroupRight,
    "tsdb_rollup_agg" -> tsdbAggBy,
    "tsdb_gaps" -> tsdbGaps,
    "tsdb_compact_stats" -> tsdbCompactStats,
    "q_orc_roundtrip" -> qJsonRoundtrip,
    "corpus_shards" -> corpusShards,
    "text_vocab" -> textVocab,
    "tsdb_agg_increase" -> tsdbAggIncrease,
    "q1_agg" -> q1Agg,
    "q3_topk" -> q3Topk,
    "q5_region_revenue" -> q5RegionRevenue,
    "q_promo_revenue" -> qPromoRevenue,
    "q_semijoin" -> qSemiJoin,
    "q_outer_join" -> qOuterJoin,
    "q_antijoin" -> qAntiJoin,
    "q_window_topn" -> qWindowTopn,
    "q_setops" -> qSetOps,
    "q_asof_join" -> qAsofJoin,
    "q_asof_join_native" -> qAsofJoin,
    "q_asof_forward" -> qAsofForward,
    "q_asof_forward_native" -> qAsofForward,
    "q_range_join" -> qRangeJoin,
    "q_sessionize" -> qSessionize,
    "q_salted_agg" -> qSaltedAgg,
    "q_salted_join" -> qSaltedJoin,
    "gorilla_roundtrip" -> gorillaRoundtrip,
    "dedup_exact" -> dedupExact,
    "dedup_ngram_jaccard" -> jaccardPairs,
    "dedup_ngram_capped" -> jaccardCapped,
    "dedup_minhash_lsh" -> jaccardPairs,
    // the occupancy-capped scale twins are BYTE-IDENTICAL to their
    // uncapped forms while no (band, bucket) cell exceeds the cap —
    // true at the compare SF (sbt-asserted in OperatorSpec), so they
    // share the uncapped oracles; at scale the cap engages and only the
    // sbt refinement gates apply
    "dedup_minhash_capped" -> jaccardPairs,
    "dedup_simhash_capped" -> dedupSimhash,
    "ann_clustered_agg" -> annClusteredAgg,
    "q_approx_percentile" -> qApproxPercentile,
    "dedup_components" -> dedupComponentsCapped,
    "dedup_components_uncapped" -> dedupComponents,
    "dedup_components_minlabel" -> dedupComponents,
    "dedup_components_capped" -> dedupComponentsCapped,
    "dedup_simhash" -> dedupSimhash,
    // the simhash star-cluster form replays EXACTLY in SQL (portable
    // md5-derived bits, deterministic banding, hub edges, closure)
    "dedup_simhash_clusters" -> dedupSimhashClusters,
    // the minhash star-cluster form's banding is xxhash64-based (not
    // SQL-expressible), but its verified hub-edge closure equals the
    // full exact-Jaccard-pair closure whenever banding misses no true
    // pair and every clique member verifies against its hub — miss
    // probability < 1e-20 per pair at J>=0.8 with 32x4 banding, and
    // OperatorSpec pins star==full-closure equality on the gate
    // corpora, so the uncapped-closure oracle applies verbatim
    "dedup_minhash_clusters" -> dedupComponents,
    "dedup_embedding" -> dedupEmbedding,
    "ann_topk" -> annTopk,
    "emb_quantize_sq8" -> embQuantizeSq8,
    "text_langid" -> textLangid,
    "text_quality" -> textQuality,
    "text_tokens" -> textTokens,
    "text_fingerprint" -> textFingerprint,
    "text_tfidf" -> textTfidf,
    "text_winnow" -> textWinnow,
    "text_decontam" -> textDecontam,
    "text_decontam_bloom" -> textDecontam,
    "text_decontam_semantic" -> textDecontamSemantic,
    "text_bpe_tokens" -> textBpeTokens,
    "text_repetition" -> textRepetition,
    "text_quality_filter" -> textQualityFilter,
    "mix_sample" -> mixSample,
    "mix_temperature" -> mixTemperature,
    "mix_token_budget" -> mixTokenBudget,
    "mix_split" -> mixSplit,
    "pack_sequences" -> packSequences,
    "dedup_passages" -> dedupPassages,
    "corpus_stats" -> corpusStats,
    "tsdb_topk" -> tsdbTopk,
    "tsdb_limitk" -> tsdbLimitk,
    "tsdb_limit_ratio" -> tsdbLimitRatio,
    "multimodal_meta" -> multimodalMeta,
    "multimodal_header_decode" -> multimodalHeaderDecode,
    "multimodal_resize" -> multimodalResize,
    "multimodal_frames" -> multimodalFrames,
    "multimodal_features" -> multimodalFeatures,
    "tsdb_downsample" -> tsdbDownsample,
    "pipeline_clean_corpus" -> pipelineCleanCorpus,
    "pipeline_clean_capped" -> pipelineCleanCorpusCapped,
    "pipeline_keep_best" -> pipelineKeepBest,
    "pipeline_domain_cap" -> pipelineDomainCap,
    "pipeline_redact_pii" -> pipelineRedactPii,
    "pipeline_chunks" -> pipelineChunks,
    "pipeline_dsir" -> pipelineDsir,
    "pipeline_perplexity" -> pipelinePerplexity)
}
