package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{BoatQueries, EtlQueries, Relational}
import graft.ops.{Dedup, EventOps, GraphOps, Inference, Linkage, Multimodal, Sampling,
  Similarity, SkewJoin, TextOps}
import graft.sources.Sources
import graft.streaming.StreamQueries

/** One catalog query: a pure (SparkSession, sfDir) => DataFrame ending
  * in a total deterministic ORDER BY; its DuckDB-equivalent ANSI SQL
  * with identical column aliases (the oracle check sorts columns by
  * name before hashing values), or None for a declared fence (q93b, q168);
  * and whether it runs a real Structured Streaming round-trip. */
final case class Query(name: String, build: (SparkSession, String) => DataFrame,
                       oracle: Option[String], streaming: Boolean = false)

/** The engine's query surface (SURVEY.md §7): [[entry]], the
  * [[catalog]], and its [[queries]] and [[oracleSql]] views. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q01PricingSummary(spark, "/root/testdata/sf0.001")

  /** Shared DuckDB CTE chain for the q60 transitive dup clusters —
    * exact-dup edges (md5 window-min) ∪ blocked-Jaccard edges, closed
    * by a recursive reachability CTE into `comp(doc, cluster_id)`.
    * q60 reads the clusters; q80 extends them with the canonical-pick
    * window, so both replay ONE cluster definition. */
  private val dupClusterCtes: String =
    """RECURSIVE t AS (SELECT doc_id, source, n_chars, string_split(text, ' ') AS toks FROM documents),
         d AS (SELECT doc_id, source, CAST(floor(n_chars / 64) AS BIGINT) AS bucket,
           list_distinct(CASE WHEN len(toks) >= 3 THEN
             list_transform(generate_series(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ELSE [] END) AS sh
           FROM t),
         ds AS (SELECT doc_id, source, bucket, sh,
           doc_id % CAST(ceil((count(*) OVER (PARTITION BY source, bucket)) / 1024.0) AS BIGINT) AS sub
           FROM d),
         jacp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM ds a JOIN ds b
           ON a.source = b.source AND a.bucket = b.bucket AND a.sub = b.sub
              AND a.doc_id < b.doc_id
           WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
                 (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
         m AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS min_id
               FROM documents),
         exactp AS (SELECT min_id AS doc_a, doc_id AS doc_b FROM m
                    WHERE doc_id <> min_id),
         e0 AS (SELECT doc_a, doc_b FROM jacp
                UNION SELECT doc_a, doc_b FROM exactp),
         edges AS (SELECT doc_a AS s, doc_b AS t2 FROM e0
                   UNION SELECT doc_b, doc_a FROM e0),
         reach AS (
           SELECT s AS doc, s AS lbl FROM edges
           UNION
           SELECT e.t2, r.lbl FROM reach r JOIN edges e ON e.s = r.doc),
         comp AS (SELECT doc, min(lbl) AS cluster_id FROM reach GROUP BY doc)"""

  /** Oracle of the batch hourly tumbling window (q29; its streaming twin q51). */
  private val tumblingWindowSql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour, event_type,
         count(*) AS n_events, round(sum(value), 4) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY hour, event_type"""

  /** Oracle of the batch 30-minute-gap sessionization (q30; its streaming
    * twins q52 and q226). */
  private val sessionizeSql: String =
    """WITH x AS (SELECT user_id, event_id, ts, value,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_s
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         y AS (SELECT user_id, ts, value,
           CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           FROM x)
         SELECT user_id, session_id, count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS t_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS t_end,
           round(sum(value), 4) AS total_value
         FROM y GROUP BY user_id, session_id ORDER BY user_id, session_id"""

  /** Oracle of the top 3 orders per customer (q04 and q43). */
  private val topOrdersPerCustomerSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
           FROM orders)
         WHERE rn <= 3
         ORDER BY o_custkey, rn"""

  /** Oracle of the batch 30-minute sliding window (q44; its streaming twin q94). */
  private val slidingWindowSql: String =
    """WITH b AS (
           SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS w_start, event_type, value FROM events
           UNION ALL
           SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE, event_type, value FROM events)
         SELECT strftime(w_start, '%Y-%m-%d %H:%M') AS w_start, event_type,
                count(*) AS n_events, round(sum(value), 4) AS total_value
         FROM b GROUP BY b.w_start, event_type
         ORDER BY w_start, event_type"""

  /** Every query, once, in number order; names are unique (QueryCatalogSpec). */
  val catalog: Seq[Query] = Seq(
    Query("q01_pricing_summary", Relational.q01PricingSummary, Some(
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 4) AS sum_qty,
         round(sum(l_extendedprice), 4) AS sum_base_price,
         round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
         round(avg(l_quantity), 4) AS avg_qty,
         round(avg(l_extendedprice), 4) AS avg_price,
         round(avg(l_discount), 4) AS avg_disc,
         count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""")),
    Query("q02_revenue_by_nation", Relational.q02RevenueByNation, Some(
      """SELECT r_name, n_name,
         round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation   ON c_nationkey = n_nationkey
         JOIN region   ON n_regionkey = r_regionkey
         WHERE year(o_orderdate) = 1997
         GROUP BY r_name, n_name
         ORDER BY r_name, n_name""")),
    Query("q03_top_orders", Relational.q03TopOrders, Some(
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC
         LIMIT 10""")),
    Query("q04_window_rank", Relational.q04TopOrdersPerCustomer, Some(topOrdersPerCustomerSql)),
    Query("q05_distinct", Relational.q05DistinctSegments, Some(
      """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
         ORDER BY c_mktsegment, c_nationkey""")),
    Query("q06_except", Relational.q06ExceptCustomers, Some(
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
         EXCEPT
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998
         ORDER BY o_custkey""")),
    Query("q07_rollup", Relational.q07RollupQuantity, Some(
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 4) AS sum_qty, count(*) AS cnt
         FROM lineitem
         GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")),
    Query("q08_semi_join", Relational.q08SemiJoin, Some(
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
         ORDER BY c_custkey""")),
    Query("q09_anti_join", Relational.q09AntiJoin, Some(
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                           AND year(o_orderdate) = 1998)
         ORDER BY c_custkey""")),
    Query("q10_monthly_orders", Relational.q10MonthlyOrders, Some(
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
         count(*) AS n_orders, round(sum(o_totalprice), 4) AS total
         FROM orders
         GROUP BY 1
         ORDER BY month""")),
    Query("q11_currency_convert", EtlQueries.q11CurrencyConvert, Some(
      """SELECT o_orderkey, o_orderpriority,
         round(o_totalprice * (CASE o_orderpriority
           WHEN '1-URGENT' THEN 1.0 WHEN '2-HIGH' THEN 1.06
           WHEN '3-MEDIUM' THEN 0.13 WHEN '4-NOT SPECIFIED' THEN 1.17
           ELSE NULL END), 4) AS price_eur
         FROM orders
         ORDER BY o_orderkey""")),
    Query("q12_ascii_scrub", EtlQueries.q12AsciiScrub, Some(
      """SELECT p_partkey,
         trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
              regexp_replace(regexp_replace(regexp_replace(
                'Â£ ' || p_name || ' Â» ' || p_brand || '  ,  Ã©nd',
                '£', 'GBP', 'g'),
                'Â»', '|', 'g'),
                '[^\x00-\x7F]', ' ', 'g'),
                ' +', ' ', 'g'),
                ' ,', ',', 'g'),
                ' "', '"', 'g'),
                '" ', '"', 'g')) AS scrubbed
         FROM part
         ORDER BY p_partkey""")),
    Query("q13_split_priority", EtlQueries.q13SplitPriority, Some(
      """SELECT o_orderkey,
         CAST(split_part(o_orderpriority, '-', 1) AS INT) AS prio_code,
         substr(o_orderpriority, strpos(o_orderpriority, '-') + 1) AS prio_label
         FROM orders
         ORDER BY o_orderkey""")),
    Query("q14_dict_normalize", EtlQueries.q14DictNormalize, Some(
      """SELECT CASE lower(trim(n_name))
           WHEN 'nation_0' THEN 'united states'
           WHEN 'nation_1' THEN 'germany'
           WHEN 'nation_7' THEN 'france'
           WHEN 'nan' THEN 'None'
           ELSE lower(trim(n_name)) END AS country,
         count(*) AS cnt
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1
         ORDER BY country""")),
    Query("q15_fillna", EtlQueries.q15FillNa, Some(
      """SELECT c_custkey,
         CASE WHEN c_mktsegment = 'BUILDING' THEN 'None' ELSE c_mktsegment END AS segment,
         CASE WHEN c_acctbal < 0 THEN 0.0 ELSE c_acctbal END AS acctbal
         FROM customer
         ORDER BY c_custkey""")),
    Query("q16_year_clamp", EtlQueries.q16YearClamp, Some(
      """WITH yr AS (SELECT year(l_shipdate) AS y FROM lineitem),
            m AS (SELECT min(y) AS mn FROM yr WHERE y <> 1995)
         SELECT CASE WHEN y BETWEEN (SELECT mn FROM m) AND 2000 THEN y
                     ELSE (SELECT mn FROM m) - 10 END AS yr_clamped,
                count(*) AS cnt
         FROM yr GROUP BY 1 ORDER BY yr_clamped""")),
    Query("q17_validation", EtlQueries.q17ValidationReport, Some(
      """SELECT * FROM (
           SELECT 'l_qty_range' AS rule, count(*) FILTER (WHERE NOT (l_quantity BETWEEN 0 AND 100)) AS violations FROM lineitem
           UNION ALL
           SELECT 'l_disc_range', count(*) FILTER (WHERE NOT (l_discount BETWEEN 0 AND 1)) FROM lineitem
           UNION ALL
           SELECT 'l_flag_domain', count(*) FILTER (WHERE l_returnflag NOT IN ('A','N','R')) FROM lineitem
           UNION ALL
           SELECT 'l_shipdate_null', count(*) FILTER (WHERE l_shipdate IS NULL) FROM lineitem
           UNION ALL
           SELECT 'c_acctbal_nonneg', count(*) FILTER (WHERE c_acctbal < 0) FROM customer
           UNION ALL
           SELECT 'c_segment_null', count(*) FILTER (WHERE c_mktsegment IS NULL) FROM customer
           UNION ALL
           SELECT 'o_status_domain', count(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P')) FROM orders)
         ORDER BY rule""")),
    Query("q18_value_counts", Relational.q18BrandCounts, Some(
      """SELECT p_brand, count(*) AS cnt FROM part
         GROUP BY p_brand ORDER BY p_brand""")),
    Query("q19_token_count", TextOps.q19TokenCount, Some(
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
         FROM documents ORDER BY doc_id""")),
    Query("q20_quality_score", TextOps.q20QualityScore, Some(
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
         SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_unique,
           round(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in')))::DOUBLE
                 / len(toks), 6) AS stop_ratio,
           round(len(list_distinct(toks))::DOUBLE / len(toks), 6) AS unique_ratio,
           round((length(text) - len(toks) + 1)::DOUBLE / len(toks), 6) AS avg_token_len
         FROM t ORDER BY doc_id""")),
    Query("q21_lang_id", TextOps.q21LangId, Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         sc AS (SELECT doc_id,
           len(list_filter(toks, x -> x IN ('the','a','and','of'))) AS s_en,
           len(list_filter(toks, x -> x IN ('le','la','et','de'))) AS s_fr,
           len(list_filter(toks, x -> x IN ('el','los','y','que'))) AS s_es,
           len(list_filter(toks, x -> x IN ('der','die','und','das'))) AS s_de
           FROM t)
         SELECT doc_id,
           CASE WHEN s_en > 0 AND s_en >= greatest(s_fr, s_es, s_de) THEN 'en'
                WHEN s_fr > 0 AND s_fr >= greatest(s_en, s_es, s_de) THEN 'fr'
                WHEN s_es > 0 AND s_es >= greatest(s_en, s_fr, s_de) THEN 'es'
                WHEN s_de > 0 AND s_de >= greatest(s_en, s_fr, s_es) THEN 'de'
                ELSE 'unknown' END AS lang_guess,
           s_en, s_fr, s_es, s_de
         FROM sc ORDER BY doc_id""")),
    Query("q22_exact_dedup", Dedup.q22ExactDedup, Some(
      """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS dup_cnt
         FROM documents GROUP BY 1 ORDER BY fp""")),
    Query("q23_jaccard_pairs", Dedup.q23JaccardTopPairs, Some(
      """WITH t AS (SELECT doc_id, source, n_chars, string_split(text, ' ') AS toks FROM documents),
         d AS (SELECT doc_id, source, CAST(floor(n_chars / 64) AS BIGINT) AS bucket,
           list_distinct(CASE WHEN len(toks) >= 3 THEN
             list_transform(generate_series(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ELSE [] END) AS sh
           FROM t),
         ds AS (SELECT doc_id, source, bucket, sh,
           doc_id % CAST(ceil((count(*) OVER (PARTITION BY source, bucket)) / 1024.0) AS BIGINT) AS sub
           FROM d),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_intersect(a.sh, b.sh))::DOUBLE /
             (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jac_exact
           FROM ds a JOIN ds b
           ON a.source = b.source AND a.bucket = b.bucket AND a.sub = b.sub
              AND a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, round(jac_exact, 6) AS jaccard FROM p
         ORDER BY jac_exact DESC, doc_a, doc_b LIMIT 20""")),
    Query("q24_minhash_lsh", Dedup.q24MinHashLsh, Some(Dedup.q24OracleSql)),
    Query("q25_simhash", Dedup.q25SimHash, Some(Dedup.q25OracleSql)),
    Query("q26_ann_topk", Similarity.q26AnnTopK, Some(
      """WITH e AS (SELECT vec_id, embedding,
           sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
           FROM embeddings),
         q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm FROM e WHERE vec_id < 8),
         sims AS (SELECT q_id, c.vec_id AS n_id,
           list_sum(list_transform(list_zip(q_emb, c.embedding),
             p -> p[1]::DOUBLE * p[2]::DOUBLE)) / (q_nrm * c.nrm) AS sim_exact
           FROM q JOIN e c ON c.vec_id <> q_id),
         r AS (SELECT q_id, n_id, sim_exact,
           row_number() OVER (PARTITION BY q_id ORDER BY sim_exact DESC, n_id) AS rn
           FROM sims)
         SELECT q_id, n_id, round(sim_exact, 6) AS sim, rn FROM r
         WHERE rn <= 5 ORDER BY q_id, rn""")),
    Query("q27_ivf_topk", Similarity.q27IvfTopK, Some(Similarity.q27OracleSql)),
    Query("q28_embedding_stats", Similarity.q28EmbeddingStats, Some(
      """WITH e AS (SELECT label,
           sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm,
           embedding[1]::DOUBLE AS d0
           FROM embeddings)
         SELECT label, count(*) AS cnt, round(avg(nrm), 6) AS avg_norm,
                round(avg(d0), 6) AS avg_dim0
         FROM e GROUP BY label ORDER BY label""")),
    Query("q29_tumbling_window", EventOps.q29TumblingWindow, Some(tumblingWindowSql)),
    Query("q30_sessionize", EventOps.q30Sessionize, Some(sessionizeSql)),
    Query("q31_json_extract", EventOps.q31JsonExtract, Some(
      """SELECT event_type, count(*) AS n_events,
         round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS avg_k,
         max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
         FROM events GROUP BY event_type ORDER BY event_type""")),
    Query("q32_multimodal_meta", Multimodal.q32BinaryMeta, Some(
      """SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes,
         sha256(text) AS fingerprint,
         64 + n_chars % 1856 AS fake_width,
         64 + (n_chars * 7) % 1016 AS fake_height
         FROM documents ORDER BY doc_id""")),
    Query("q33_boat_clean", BoatQueries.q33BoatClean, Some(
      """WITH raw AS (
           SELECT * FROM read_csv('/root/repo/src/test/resources/boat_mini.csv',
                                  header=true, all_varchar=true)
         ), sc AS (
           SELECT
             trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                  regexp_replace(regexp_replace(regexp_replace("Price",
                  '£','GBP','g'),'Â»','|','g'),'[^\x00-\x7F]',' ','g'),
                  ' +',' ','g'),' ,',',','g'),' "','"','g'),'" ','"','g')) AS price_raw,
             "Boat Type" AS boat_type,
             trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                  regexp_replace(regexp_replace(regexp_replace("Manufacturer",
                  '£','GBP','g'),'Â»','|','g'),'[^\x00-\x7F]',' ','g'),
                  ' +',' ','g'),' ,',',','g'),' "','"','g'),'" ','"','g')) AS manufacturer0,
             "Type" AS type0,
             CAST("Year Built" AS BIGINT) AS yb,
             CAST("Length" AS DOUBLE) AS length0,
             CAST("Width" AS DOUBLE) AS width0,
             "Material" AS material0,
             trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                  regexp_replace(regexp_replace(regexp_replace("Location",
                  '£','GBP','g'),'Â»','|','g'),'[^\x00-\x7F]',' ','g'),
                  ' +',' ','g'),' ,',',','g'),' "','"','g'),'" ','"','g')) AS location0,
             CAST("Number of views last 7 days" AS BIGINT) AS views
           FROM raw
         ), mny AS (
           SELECT min(yb) AS mn FROM sc WHERE yb IS NOT NULL AND yb <> 0
         ), t1 AS (
           SELECT
             split_part(price_raw, ' ', 1) AS currency,
             CAST(substr(price_raw, strpos(price_raw, ' ') + 1) AS BIGINT) AS price,
             boat_type,
             coalesce(manufacturer0, 'None') AS manufacturer,
             coalesce(type0, 'None') AS tfull,
             CASE WHEN yb BETWEEN (SELECT mn FROM mny) AND 2026 THEN yb
                  ELSE (SELECT mn FROM mny) - 10 END AS year_built,
             coalesce(length0, 0.0) AS length,
             coalesce(width0, 0.0) AS width,
             coalesce(material0, 'None') AS material,
             CASE WHEN location0 IS NULL THEN NULL
                  WHEN strpos(location0, '|') > 0
                  THEN rtrim(substr(location0, 1, strpos(location0, '|') - 1))
                  ELSE rtrim(location0) END AS country_raw,
             CASE WHEN location0 IS NOT NULL AND strpos(location0, '|') > 0
                  THEN rtrim(substr(location0, strpos(location0, '|') + 1))
                  ELSE NULL END AS city0,
             views
           FROM sc
         ), t2 AS (
           SELECT *,
             CASE WHEN country_raw IS NULL THEN 'nan'
                  ELSE lower(trim(country_raw)) END AS ckey
           FROM t1
         )
         SELECT
           price, boat_type, manufacturer,
           CASE WHEN strpos(tfull, ',') > 0
                THEN substr(tfull, 1, strpos(tfull, ',') - 1) ELSE tfull END AS type,
           CASE WHEN strpos(tfull, ',') > 0
                     AND length(substr(tfull, strpos(tfull, ',') + 1)) > 0
                THEN substr(tfull, strpos(tfull, ',') + 1) ELSE 'None' END AS power,
           year_built, length, width, material,
           coalesce(city0, 'None') AS city,
           CASE ckey
             WHEN 'switzerland' THEN 'Switzerland' WHEN 'germany' THEN 'Germany'
             WHEN 'denmark' THEN 'Denmark' WHEN 'united states' THEN 'United States'
             WHEN 'united kingdom' THEN 'United Kingdom' WHEN 'sweden' THEN 'Sweden'
             WHEN 'italy' THEN 'Italy' WHEN 'italien' THEN 'Italy'
             WHEN 'france' THEN 'France' WHEN 'spain' THEN 'Spain'
             WHEN 'mallorca' THEN 'Spain' WHEN 'lake constance' THEN 'Germany'
             WHEN 'netherlands' THEN 'Netherlands' WHEN 'nan' THEN 'None'
             ELSE ckey END AS country,
           currency,
           round(price * (CASE currency WHEN 'EUR' THEN 1.0 WHEN 'CHF' THEN 1.06
                          WHEN 'DKK' THEN 0.13 WHEN 'GBP' THEN 1.17
                          ELSE NULL END), 4) AS price_eur,
           views
         FROM t2
         ORDER BY price""")),
    Query("q34_boat_summary", BoatQueries.q34BoatSummary, Some(
      """WITH raw AS (
           SELECT * FROM read_csv('/root/repo/src/test/resources/boat_mini.csv',
                                  header=true, all_varchar=true)
         ), sc AS (
           SELECT
             trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                  regexp_replace(regexp_replace(regexp_replace("Price",
                  '£','GBP','g'),'Â»','|','g'),'[^\x00-\x7F]',' ','g'),
                  ' +',' ','g'),' ,',',','g'),' "','"','g'),'" ','"','g')) AS price_raw,
             trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                  regexp_replace(regexp_replace(regexp_replace("Location",
                  '£','GBP','g'),'Â»','|','g'),'[^\x00-\x7F]',' ','g'),
                  ' +',' ','g'),' ,',',','g'),' "','"','g'),'" ','"','g')) AS location0
           FROM raw
         ), t1 AS (
           SELECT
             CAST(substr(price_raw, strpos(price_raw, ' ') + 1) AS BIGINT) *
               (CASE split_part(price_raw, ' ', 1)
                  WHEN 'EUR' THEN 1.0 WHEN 'CHF' THEN 1.06
                  WHEN 'DKK' THEN 0.13 WHEN 'GBP' THEN 1.17
                  ELSE NULL END) AS price_eur,
             CASE WHEN location0 IS NULL THEN 'nan'
                  WHEN strpos(location0, '|') > 0
                  THEN lower(trim(rtrim(substr(location0, 1, strpos(location0, '|') - 1))))
                  ELSE lower(trim(rtrim(location0))) END AS ckey
           FROM sc
         ), t2 AS (
           SELECT price_eur,
             CASE ckey
               WHEN 'switzerland' THEN 'Switzerland' WHEN 'germany' THEN 'Germany'
               WHEN 'denmark' THEN 'Denmark' WHEN 'united states' THEN 'United States'
               WHEN 'united kingdom' THEN 'United Kingdom' WHEN 'sweden' THEN 'Sweden'
               WHEN 'italy' THEN 'Italy' WHEN 'italien' THEN 'Italy'
               WHEN 'france' THEN 'France' WHEN 'spain' THEN 'Spain'
               WHEN 'mallorca' THEN 'Spain' WHEN 'lake constance' THEN 'Germany'
               WHEN 'netherlands' THEN 'Netherlands' WHEN 'nan' THEN 'None'
               ELSE ckey END AS country
           FROM t1
         )
         SELECT country, round(avg(price_eur), 4) AS avg_price,
                count(*) AS "count"
         FROM t2 GROUP BY country
         ORDER BY avg(price_eur) DESC NULLS LAST, country""")),
    Query("q35_embedding_neardup", Similarity.q35EmbeddingNearDup, Some(Similarity.q35OracleSql)),
    Query("q36_rolling_hash", TextOps.q36RollingHash, Some(
      """SELECT doc_id,
         list_reduce(list_prepend(0, list_transform(string_split(text, ''),
           ch -> ascii(ch)::BIGINT)), (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint,
         length(text)::BIGINT AS n_chars
         FROM documents ORDER BY doc_id""")),
    // q37's oracle uses >= (not q30's >): session_window is half-open
    // [start, last+gap), so an event EXACTLY gap after its predecessor
    // starts a new session — the lag rule must mirror that bound
    // (ADVICE r1; the two differ only on exact-gap timestamps)
    Query("q37_session_window", EventOps.q37SessionWindow, Some(
      """WITH x AS (SELECT user_id, event_id, ts, value,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_s
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         y AS (SELECT user_id, ts, value,
           CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           FROM x)
         SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS t_start,
           count(*) AS n_events, round(sum(value), 4) AS total_value
         FROM y GROUP BY user_id, session_id ORDER BY user_id, t_start""")),
    Query("q38_cube", Relational.q38Cube, Some(
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 4) AS sum_qty, count(*) AS cnt
         FROM lineitem
         GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")),
    Query("q39_supplier_revenue", Relational.q39SupplierRevenue, Some(
      """SELECT n_name,
         round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
         count(DISTINCT s_suppkey) AS n_suppliers
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation   ON s_nationkey = n_nationkey
         WHERE year(o_orderdate) = 1997
         GROUP BY n_name
         ORDER BY n_name""")),
    Query("q40_subword_count", TextOps.q40SubwordCount, Some(
      """SELECT doc_id,
         len(string_split(text, ' '))::BIGINT AS n_ws_tokens,
         len(regexp_extract_all(lower(text), '[a-z]{1,4}|[0-9]+|[^a-z0-9\s]'))::BIGINT AS n_subword,
         round(len(regexp_extract_all(lower(text), '[a-z]{1,4}|[0-9]+|[^a-z0-9\s]'))::DOUBLE
               / len(string_split(text, ' ')), 6) AS subword_ratio
         FROM documents ORDER BY doc_id""")),
    Query("q41_approx_distinct", Relational.q41ApproxDistinct, Some(Relational.q41OracleSql)),
    Query("q42_percentiles", Relational.q42Percentiles, Some(
      """SELECT o_orderpriority,
         round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
         round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
         round(stddev_samp(o_totalprice), 4) AS sd
         FROM orders GROUP BY o_orderpriority
         ORDER BY o_orderpriority""")),
    Query("q43_topk_agg", Relational.q43TopKAgg, Some(topOrdersPerCustomerSql)),
    Query("q44_sliding_window", EventOps.q44SlidingWindow, Some(slidingWindowSql)),
    Query("q45_token_freq", TextOps.q45TokenFreq, Some(
      """SELECT token, count(*) AS freq
         FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
         GROUP BY token
         ORDER BY freq DESC, token LIMIT 25""")),
    Query("q46_intersect", Relational.q46Intersect, Some(
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
         INTERSECT
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998
         ORDER BY o_custkey""")),
    Query("q47_pivot", Relational.q47Pivot, Some(
      """SELECT year(o_orderdate) AS yr,
         count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
         count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
         count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
         FROM orders GROUP BY 1 ORDER BY yr""")),
    // q48 is a 7-CALENDAR-DAY average (RANGE on the day number), so
    // missing days shrink the window in both engines identically
    Query("q48_moving_avg", Relational.q48MovingAvg, Some(
      """WITH d AS (SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
                    date_diff('day', DATE '1970-01-01', min(o_orderdate)) AS day_num,
                    sum(o_totalprice) AS day_total
                    FROM orders GROUP BY 1)
         SELECT day, round(day_total, 4) AS day_total,
                round(avg(day_total) OVER (ORDER BY day_num
                      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
         FROM d ORDER BY day""")),
    Query("q49_profile", EtlQueries.q49Profile, Some(
      """WITH a AS (SELECT
           count(*) FILTER (WHERE c_custkey IS NULL) AS k_n,
           count(DISTINCT c_custkey) AS k_d,
           CAST(min(c_custkey) AS VARCHAR) AS k_mn, CAST(max(c_custkey) AS VARCHAR) AS k_mx,
           count(*) FILTER (WHERE c_nationkey IS NULL) AS c_n,
           count(DISTINCT c_nationkey) AS c_d,
           CAST(min(c_nationkey) AS VARCHAR) AS c_mn, CAST(max(c_nationkey) AS VARCHAR) AS c_mx,
           count(*) FILTER (WHERE c_mktsegment IS NULL) AS s_n,
           count(DISTINCT c_mktsegment) AS s_d,
           CAST(min(c_mktsegment) AS VARCHAR) AS s_mn, CAST(max(c_mktsegment) AS VARCHAR) AS s_mx,
           count(*) FILTER (WHERE c_name IS NULL) AS p_n,
           count(DISTINCT c_name) AS p_d,
           CAST(min(c_name) AS VARCHAR) AS p_mn, CAST(max(c_name) AS VARCHAR) AS p_mx
           FROM customer)
         SELECT * FROM (
           SELECT 'c_custkey' AS column, k_n AS n_nulls, k_d AS n_distinct, k_mn AS min_val, k_mx AS max_val FROM a
           UNION ALL SELECT 'c_nationkey', c_n, c_d, c_mn, c_mx FROM a
           UNION ALL SELECT 'c_mktsegment', s_n, s_d, s_mn, s_mx FROM a
           UNION ALL SELECT 'c_name', p_n, p_d, p_mn, p_mx FROM a)
         ORDER BY "column" """)),
    Query("q50_asof_join", EventOps.q50AsofJoin, Some(
      """WITH o AS (SELECT o_custkey, o_orderdate, max(o_totalprice) AS o_total
                    FROM orders GROUP BY o_custkey, o_orderdate)
         SELECT e.event_id, e.user_id,
                strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
                strftime(o.o_orderdate, '%Y-%m-%d') AS o_date,
                round(o.o_total, 4) AS o_total
         FROM events e ASOF JOIN o
           ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
         ORDER BY e.event_id""")),
    // q51/q52: the streaming twins finalize EVERY window/session (the
    // sentinel feed pushes the watermark past all real data), so their
    // oracles are the batch twins' SQL verbatim
    Query("q51_stream_tumbling", StreamQueries.q51StreamTumbling, Some(tumblingWindowSql),
      streaming = true),
    Query("q52_stream_sessions", StreamQueries.q52StreamSessions, Some(sessionizeSql),
      streaming = true),
    Query("q53_approx_percentiles", Relational.q53ApproxPercentiles, Some(Relational.q53OracleSql)),
    // q54: rational idf (N+1)/(df+1) — integer ratios through IEEE
    // division are bit-stable cross-engine, unlike ln
    Query("q54_tfidf", TextOps.q54TfIdf, Some(
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents),
         sc AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
           (tf.tf * (n.n + 1)) / (df.df + 1) AS score_exact
           FROM tf JOIN df USING (term) CROSS JOIN n),
         r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
               ORDER BY score_exact DESC, term) AS rn FROM sc)
         SELECT doc_id, term, tf, df, round(score_exact, 6) AS tfidf
         FROM r WHERE rn = 1 ORDER BY doc_id""")),
    // q55: counts = redactions performed per step, derived from
    // placeholder occurrences (after minus before) exactly like the
    // Spark query — one regex pass per pattern in both engines
    Query("q55_pii_redact", TextOps.q55PiiRedact, Some(
      """WITH s1 AS (SELECT doc_id, text,
           regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t1
           FROM documents),
         s2 AS (SELECT *, regexp_replace(t1,
             '\+?[0-9]{3}[- .][0-9]{3}[- .][0-9]{4}', '[PHONE]', 'g') AS t2
           FROM s1),
         s3 AS (SELECT *, regexp_replace(t2,
             '[0-9]{3}-[0-9]{2}-[0-9]{4}', '[SSN]', 'g') AS t3
           FROM s2)
         SELECT doc_id,
           CAST((length(t1) - length(replace(t1, '[EMAIL]', ''))) / 7 AS BIGINT)
             - CAST((length(text) - length(replace(text, '[EMAIL]', ''))) / 7 AS BIGINT)
             AS n_emails,
           CAST((length(t2) - length(replace(t2, '[PHONE]', ''))) / 7 AS BIGINT)
             - CAST((length(t1) - length(replace(t1, '[PHONE]', ''))) / 7 AS BIGINT)
             AS n_phones,
           CAST((length(t3) - length(replace(t3, '[SSN]', ''))) / 5 AS BIGINT)
             - CAST((length(t2) - length(replace(t2, '[SSN]', ''))) / 5 AS BIGINT)
             AS n_ssns,
           md5(t3) AS redacted_md5, length(t3)::BIGINT AS redacted_len
         FROM s3 ORDER BY doc_id""")),
    // q56: content-hash sampling — last md5 nibble < 2 keeps ~2/16
    Query("q56_stratified_sample", Sampling.q56StratifiedSample, Some(
      """SELECT source, count(*) AS n_total,
         count(*) FILTER (WHERE ('0x' || substr(md5(text), 32, 1))::BIGINT < 2)
           AS n_sampled,
         round((count(*) FILTER (WHERE ('0x' || substr(md5(text), 32, 1))::BIGINT < 2))::DOUBLE
               / count(*), 6) AS rate
         FROM documents GROUP BY source ORDER BY source""")),
    // q57: the stream-stream join finalizes every match (sentinels
    // advance both sides' watermarks), so the oracle is the batch
    // self-join verbatim
    Query("q57_stream_join", StreamQueries.q57StreamJoin, Some(
      """SELECT a.event_id AS view_id, b.event_id AS purchase_id, a.user_id,
         strftime(a.ts, '%Y-%m-%d %H:%M:%S.%f') AS v_ts,
         strftime(b.ts, '%Y-%m-%d %H:%M:%S.%f') AS p_ts
         FROM events a JOIN events b
         ON a.user_id = b.user_id
            AND a.event_type = 'view' AND b.event_type = 'purchase'
            AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
         ORDER BY view_id, purchase_id"""), streaming = true),
    Query("q58_heavy_hitters", TextOps.q58HeavyHitters, Some(TextOps.q58OracleSql)),
    Query("q59_simhash_pairs", ((s, d) => Dedup.q59SimHashPairs(s, d)), Some(Dedup.q59OracleSql)),
    // q60: transitive dedup clusters — recursive closure replays the
    // min-label propagation exactly (both sides fully converge)
    Query("q60_dedup_clusters", Dedup.q60DedupClusters, Some(
      s"""WITH $dupClusterCtes
         SELECT doc AS doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS n_members
         FROM comp ORDER BY doc_id""")),
    Query("q61_chunk_docs", TextOps.q61ChunkDocs, Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         c AS (SELECT doc_id, toks,
           unnest(generate_series(0, CAST(ceil(len(toks) / 64.0) AS BIGINT) - 1)) AS chunk_no
           FROM t),
         s AS (SELECT doc_id, chunk_no,
           toks[chunk_no * 64 + 1 : chunk_no * 64 + 64] AS ct
           FROM c)
         SELECT doc_id, chunk_no, len(ct)::BIGINT AS n_chunk_tokens,
           md5(array_to_string(ct, ' ')) AS chunk_md5
         FROM s ORDER BY doc_id, chunk_no""")),
    Query("q62_pack_chunks", TextOps.q62PackChunks, Some(
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
         c AS (SELECT doc_id, source, toks,
           unnest(generate_series(0, CAST(ceil(len(toks) / 64.0) AS BIGINT) - 1)) AS chunk_no
           FROM t),
         s AS (SELECT source, doc_id, chunk_no,
           len(toks[chunk_no * 64 + 1 : chunk_no * 64 + 64])::BIGINT AS n_chunk_tokens
           FROM c),
         p AS (SELECT source, doc_id, chunk_no, n_chunk_tokens,
           sum(n_chunk_tokens) OVER (PARTITION BY source
             ORDER BY doc_id, chunk_no ROWS UNBOUNDED PRECEDING) AS cum
           FROM s)
         SELECT source, doc_id, chunk_no, n_chunk_tokens,
           CAST(floor((cum - n_chunk_tokens) / 128.0) AS BIGINT) AS bin_id
         FROM p ORDER BY source, doc_id, chunk_no""")),
    Query("q63_quantize_embeddings", Similarity.q63QuantizeEmbeddings, Some(
      """WITH e AS (SELECT vec_id, embedding,
           list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS amax
           FROM embeddings)
         SELECT vec_id,
           CAST(floor(amax / 127.0 * 1e6 + 0.5) AS BIGINT) AS scale_micro,
           CAST(CASE WHEN amax = 0 THEN 0 ELSE
             list_sum(list_transform(embedding,
               x -> CAST(floor(x::DOUBLE / (amax / 127.0) + 0.5) AS BIGINT)))
           END AS BIGINT) AS qsum,
           CAST(CASE WHEN amax = 0 THEN 0 ELSE
             list_sum(list_transform(embedding,
               x -> abs(CAST(floor(x::DOUBLE / (amax / 127.0) + 0.5) AS BIGINT))))
           END AS BIGINT) AS ql1
         FROM e ORDER BY vec_id""")),
    // q64: the decode stub's fake is pure arithmetic over the bytes —
    // ASCII corpus, so per-char ascii() sums equal byte sums (q36
    // already pins that equivalence)
    Query("q64_decode_meta", Multimodal.q64DecodeMeta, Some(
      """WITH b AS (SELECT doc_id, strlen(text)::BIGINT AS n,
           list_sum(list_transform(string_split(text, ''),
             ch -> ascii(ch)::BIGINT)) AS bsum
           FROM documents)
         SELECT doc_id, n AS n_bytes,
           (64 + n % 1856) AS width,
           (64 + (n * 7) % 1016) AS height,
           round(CASE WHEN n = 0 THEN 0 ELSE bsum::DOUBLE / n / 255.0 END, 6)
             AS mean_luma
         FROM b ORDER BY doc_id""")),
    Query("q65_resize_plan", Multimodal.q65ResizePlan, Some(
      """WITH b AS (SELECT doc_id, strlen(text)::BIGINT AS n FROM documents),
         d AS (SELECT doc_id, (64 + n % 1856) AS w, (64 + (n * 7) % 1016) AS h
               FROM b)
         SELECT doc_id, w AS width, h AS height,
           CAST(floor(w * least(1.0, 512.0 / greatest(w, h))) AS BIGINT)
             AS target_width,
           CAST(floor(h * least(1.0, 512.0 / greatest(w, h))) AS BIGINT)
             AS target_height
         FROM d ORDER BY doc_id""")),
    Query("q66_frame_sample", Multimodal.q66FrameSample, Some(
      """WITH b AS (SELECT doc_id, text,
           CAST(floor(strlen(text) / 128.0) AS BIGINT) AS nf FROM documents),
         f AS (SELECT doc_id, text,
           unnest(generate_series(0, nf - 1)) AS frame_no
           FROM b WHERE nf >= 1)
         SELECT doc_id, frame_no,
           md5(substring(text, CAST(frame_no * 128 + 1 AS INT), 64)) AS frame_md5
         FROM f ORDER BY doc_id, frame_no""")),
    Query("q67_stream_dedup", StreamQueries.q67StreamDedup, Some(
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type"""), streaming = true),
    Query("q68_repetition", TextOps.q68Repetition, Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         g AS (SELECT doc_id, CASE WHEN len(toks) >= 3 THEN
                 list_transform(generate_series(1, len(toks) - 2),
                   i -> array_to_string(toks[i:i+2], ' '))
               ELSE [] END AS tri FROM t)
         SELECT doc_id, len(tri)::BIGINT AS n_trigrams,
           len(list_distinct(tri))::BIGINT AS n_distinct,
           round(CASE WHEN len(tri) > 0
                 THEN 1.0 - len(list_distinct(tri))::DOUBLE / len(tri)
                 ELSE 0.0 END, 6) AS rep_ratio
         FROM g ORDER BY doc_id""")),
    Query("q69_funnel", EventOps.q69Funnel, Some(
      """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
                    WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, min(e.ts) AS t_click
               FROM events e JOIN v ON e.user_id = v.user_id
               WHERE e.event_type = 'click' AND e.ts > v.t_view
               GROUP BY e.user_id),
         p AS (SELECT e.user_id, min(e.ts) AS t_purchase
               FROM events e JOIN c ON e.user_id = c.user_id
               WHERE e.event_type = 'purchase' AND e.ts > c.t_click
               GROUP BY e.user_id)
         SELECT v.user_id,
           strftime(v.t_view, '%Y-%m-%d %H:%M:%S.%f') AS t_view,
           strftime(c.t_click, '%Y-%m-%d %H:%M:%S.%f') AS t_click,
           strftime(p.t_purchase, '%Y-%m-%d %H:%M:%S.%f') AS t_purchase,
           (1 + CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS stage
         FROM v LEFT JOIN c ON v.user_id = c.user_id
                LEFT JOIN p ON v.user_id = p.user_id
         ORDER BY v.user_id""")),
    Query("q70_decontaminate", Dedup.q70Decontaminate, Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
                    ('0x' || substr(md5(text), 32, 1))::BIGINT AS nib
                    FROM documents),
         g AS (SELECT doc_id, nib, CASE WHEN len(toks) >= 5 THEN
                 list_distinct(list_transform(generate_series(1, len(toks) - 4),
                   i -> array_to_string(toks[i:i+4], ' ')))
               ELSE [] END AS grams FROM t),
         bg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE nib = 0),
         cg AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE nib <> 0),
         ov AS (SELECT cg.doc_id, count(*) AS shared
                FROM cg JOIN bg USING (gram) GROUP BY cg.doc_id)
         SELECT g.doc_id, len(g.grams)::BIGINT AS n_grams,
           coalesce(ov.shared, 0)::BIGINT AS n_shared,
           (coalesce(ov.shared, 0) >= 3)::BIGINT AS contaminated
         FROM g LEFT JOIN ov ON g.doc_id = ov.doc_id
         WHERE g.nib <> 0 ORDER BY g.doc_id""")),
    Query("q71_upsert_latest", Relational.q71UpsertLatest, Some(
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice,
                       1::BIGINT AS version FROM orders),
         upd AS (SELECT o_orderkey, 'R' AS o_orderstatus,
                 o_totalprice + 100.0 AS o_totalprice, 2::BIGINT AS version
                 FROM base WHERE o_orderkey % 7 = 0),
         merged AS (SELECT * FROM base UNION ALL SELECT * FROM upd)
         SELECT o_orderkey, o_orderstatus, o_totalprice, version
         FROM merged
         QUALIFY row_number() OVER (PARTITION BY o_orderkey
                                    ORDER BY version DESC) = 1
         ORDER BY o_orderkey""")),
    Query("q72_balanced_sample", ((s, d) => Sampling.q72BalancedSample(s, d)), Some(
      """SELECT source, doc_id, rk FROM (
           SELECT source, doc_id,
                  row_number() OVER (PARTITION BY source
                    ORDER BY ('0x' || substr(md5(text), 1, 13))::BIGINT,
                             doc_id) AS rk
           FROM documents)
         WHERE rk <= 50 ORDER BY source, rk""")),
    Query("q73_quality_filter", TextOps.q73QualityFilter, Some(
      """WITH t AS (SELECT source, string_split(text, ' ') AS toks,
                    length(text) AS len FROM documents),
         r AS (SELECT source, len(toks) AS n,
                 len(list_filter(toks, w ->
                   list_contains(['the','a','of','and','to','in'], w))) AS stops,
                 len(list_distinct(toks)) AS uniq, len FROM t),
         v AS (SELECT source,
                 CASE WHEN n < 30 THEN 1
                      WHEN stops::DOUBLE / n < 0.02 THEN 2
                      WHEN uniq::DOUBLE / n < 0.35 THEN 3
                      WHEN (len - n + 1)::DOUBLE / n < 4.0
                           OR (len - n + 1)::DOUBLE / n > 8.0 THEN 4
                      ELSE 0 END AS verdict FROM r)
         SELECT source, count(*)::BIGINT AS n_docs,
           count(*) FILTER (WHERE verdict = 0)::BIGINT AS n_kept,
           count(*) FILTER (WHERE verdict = 1)::BIGINT AS n_rej_short,
           count(*) FILTER (WHERE verdict = 2)::BIGINT AS n_rej_stopword,
           count(*) FILTER (WHERE verdict = 3)::BIGINT AS n_rej_repetitive,
           count(*) FILTER (WHERE verdict = 4)::BIGINT AS n_rej_token_len
         FROM v GROUP BY source ORDER BY source""")),
    Query("q74_dup_ngram_coverage", Dedup.q74DupNgramCoverage, Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents),
         g AS (SELECT doc_id, CASE WHEN len(toks) >= 3 THEN
                 list_transform(generate_series(1, len(toks) - 2),
                   i -> array_to_string(toks[i:i+2], ' '))
               ELSE [] END AS grams FROM t),
         p AS (SELECT doc_id, unnest(grams) AS gram FROM g),
         pg AS (SELECT doc_id, gram, count(*) AS c FROM p GROUP BY 1, 2),
         gt AS (SELECT gram, sum(c) AS tot FROM pg GROUP BY 1),
         pd AS (SELECT pg.doc_id, sum(c)::BIGINT AS n_grams,
                  sum(CASE WHEN tot >= 2 THEN c ELSE 0 END)::BIGINT AS n_dup
                FROM pg JOIN gt USING (gram) GROUP BY 1)
         SELECT t.doc_id, coalesce(pd.n_grams, 0)::BIGINT AS n_grams,
           coalesce(pd.n_dup, 0)::BIGINT AS n_dup,
           CASE WHEN coalesce(pd.n_grams, 0) = 0 THEN 0::BIGINT
                ELSE CAST(floor(pd.n_dup * 1000000.0 / pd.n_grams)
                          AS BIGINT) END AS dup_micro
         FROM t LEFT JOIN pd USING (doc_id) ORDER BY doc_id""")),
    Query("q75_pq_topk", Similarity.q75PqTopK, Some(Similarity.q75OracleSql)),
    Query("q76_hash_split", Sampling.q76HashSplit, Some(
      """SELECT doc_id,
         (('0x' || substr(md5(text), 29, 4))::BIGINT % 100) AS bucket,
         CASE WHEN ('0x' || substr(md5(text), 29, 4))::BIGINT % 100 < 80
                THEN 'train'
              WHEN ('0x' || substr(md5(text), 29, 4))::BIGINT % 100 < 90
                THEN 'val'
              ELSE 'test' END AS split
         FROM documents ORDER BY doc_id""")),
    Query("q77_bm25", TextOps.q77Bm25, Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         d AS (SELECT doc_id, len(toks)::BIGINT AS dl,
           len(list_filter(toks, x -> x = 'spark'))::BIGINT AS tf0,
           len(list_filter(toks, x -> x = 'join'))::BIGINT AS tf1,
           len(list_filter(toks, x -> x = 'window'))::BIGINT AS tf2,
           len(list_filter(toks, x -> x = 'hash'))::BIGINT AS tf3
           FROM t),
         c AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sdl,
           sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::BIGINT AS df0,
           sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::BIGINT AS df1,
           sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::BIGINT AS df2,
           sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END)::BIGINT AS df3
           FROM d)
         SELECT doc_id, dl AS n_tokens,
           CAST(floor((
             ((n - df0 + 0.5::DOUBLE) / (df0 + 0.5::DOUBLE)) * (tf0 * 2.2::DOUBLE) / (tf0 + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * dl / (sdl::DOUBLE / n)))
           + ((n - df1 + 0.5::DOUBLE) / (df1 + 0.5::DOUBLE)) * (tf1 * 2.2::DOUBLE) / (tf1 + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * dl / (sdl::DOUBLE / n)))
           + ((n - df2 + 0.5::DOUBLE) / (df2 + 0.5::DOUBLE)) * (tf2 * 2.2::DOUBLE) / (tf2 + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * dl / (sdl::DOUBLE / n)))
           + ((n - df3 + 0.5::DOUBLE) / (df3 + 0.5::DOUBLE)) * (tf3 * 2.2::DOUBLE) / (tf3 + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * dl / (sdl::DOUBLE / n)))
           ) * 1000000.0::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS bm25_micro
         FROM d, c ORDER BY doc_id""")),
    Query("q78_edit_distance", Dedup.q78EditDistancePairs, Some(
      """WITH d0 AS (SELECT doc_id, source,
           CAST(floor(n_chars / 64) AS BIGINT) AS bucket,
           substring(text, 1, 128) AS pfx FROM documents),
         d AS (SELECT doc_id, source, bucket, pfx,
           doc_id % CAST(ceil((count(*) OVER (PARTITION BY source, bucket)) / 1024.0) AS BIGINT) AS sub
           FROM d0),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.pfx, b.pfx)::BIGINT AS lev,
           greatest(length(a.pfx), length(b.pfx))::BIGINT AS max_len
           FROM d a JOIN d b
           ON a.source = b.source AND a.bucket = b.bucket AND a.sub = b.sub
              AND a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, lev,
           CAST(floor((1.0::DOUBLE - lev::DOUBLE / max_len) * 1000000.0::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS sim_micro
         FROM p WHERE lev <= 16
         ORDER BY sim_micro DESC, doc_a, doc_b LIMIT 20""")),
    Query("q79_lm_quality", TextOps.q79LmQuality, Some(
      """WITH dt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
         vocab AS (SELECT token, count(*)::BIGINT AS freq FROM dt
                   GROUP BY token ORDER BY freq DESC, token LIMIT 64),
         nt AS (SELECT count(*)::BIGINT AS n_corpus FROM dt),
         pd AS (SELECT dt.doc_id, count(*)::BIGINT AS n_tokens,
                  coalesce(sum(v.freq), 0)::BIGINT AS sum_freq
                FROM dt LEFT JOIN vocab v USING (token)
                GROUP BY dt.doc_id)
         SELECT doc_id, n_tokens, sum_freq,
           (sum_freq * 1000000) // (n_tokens * n_corpus) AS lm_micro
         FROM pd, nt ORDER BY doc_id""")),
    Query("q80_canonical_pick", Dedup.q80CanonicalPick, Some(
      s"""WITH $dupClusterCtes,
         tl AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
                FROM documents),
         cm AS (SELECT c.doc, c.cluster_id, tk.n_tokens,
                  count(*) OVER (PARTITION BY c.cluster_id) AS n_members,
                  row_number() OVER (PARTITION BY c.cluster_id
                    ORDER BY tk.n_tokens DESC, c.doc) AS rn
                FROM comp c JOIN tl tk ON tk.doc_id = c.doc)
         SELECT cluster_id, doc AS canon_doc_id, n_tokens AS canon_tokens,
           (n_members - 1)::BIGINT AS n_dropped
         FROM cm WHERE rn = 1 ORDER BY cluster_id""")),
    Query("q81_semdedup", ((s, d) => Similarity.q81SemDedup(s, d)), Some(Similarity.q81OracleSql)),
    Query("q82_pagerank", ((s, d) => GraphOps.q82PageRank(s, d)), Some(GraphOps.q82OracleSql)),
    Query("q83_cell_topics", Similarity.q83CellTopics, Some(Similarity.q83OracleSql)),
    Query("q84_temperature_mix", Sampling.q84TemperatureMix, Some(
      """WITH c AS (SELECT source, count(*)::BIGINT AS n_docs
           FROM documents GROUP BY source),
         mx AS (SELECT max(n_docs)::BIGINT AS n_max FROM c),
         v AS (SELECT d.source, c.n_docs,
           CAST(floor(sqrt(c.n_docs::DOUBLE) / sqrt(mx.n_max::DOUBLE)
                      * 1048576.0::DOUBLE) AS BIGINT) AS threshold,
           CASE WHEN (('0x' || substr(md5(d.text), 28, 5))::BIGINT % 1048576)
                     < CAST(floor(sqrt(c.n_docs::DOUBLE) / sqrt(mx.n_max::DOUBLE)
                                  * 1048576.0::DOUBLE) AS BIGINT)
                THEN 1 ELSE 0 END AS keep
           FROM documents d JOIN c USING (source), mx)
         SELECT source, any_value(n_docs) AS n_docs,
           any_value(threshold) AS threshold, sum(keep)::BIGINT AS n_kept
         FROM v GROUP BY source ORDER BY source""")),
    Query("q85_inverted_index", ((s, d) => Sampling.q85InvertedIndex(s, d)), Some(
      """WITH dt AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS token, doc_id
           FROM documents),
         g AS (SELECT token, count(*)::BIGINT AS df,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc,
           md5(array_to_string(list(doc_id ORDER BY doc_id), ',')) AS md5_all
           FROM dt GROUP BY token)
         SELECT token, df, first_doc, last_doc,
           CASE WHEN df <= 256 THEN md5_all END AS postings_md5
         FROM g ORDER BY token""")),
    Query("q86_interval_join", EventOps.q86IntervalJoin, Some(
      """WITH iv AS (SELECT user_id AS u, CAST(ts AS DATE) AS day,
           min(ts) AS w_start, max(ts) AS w_end, count(*)::BIGINT AS n_views
           FROM events WHERE event_type = 'view' GROUP BY 1, 2)
         SELECT e.event_id, e.user_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
           strftime(iv.w_start, '%Y-%m-%d %H:%M:%S.%f') AS w_start,
           strftime(iv.w_end, '%Y-%m-%d %H:%M:%S.%f') AS w_end,
           iv.n_views
         FROM events e JOIN iv
         ON e.user_id = iv.u AND CAST(e.ts AS DATE) = iv.day
            AND e.ts >= iv.w_start AND e.ts <= iv.w_end
         WHERE e.event_type = 'purchase'
         ORDER BY e.event_id""")),
    Query("q87_snapshot_diff", Relational.q87SnapshotDiff, Some(
      """WITH prev AS (SELECT doc_id, md5(text) AS fp_old FROM documents
           WHERE doc_id % 7 <> 0),
         nxt AS (SELECT doc_id,
           md5(CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END) AS fp_new
           FROM documents WHERE doc_id % 5 <> 0),
         j AS (SELECT coalesce(prev.doc_id, nxt.doc_id) AS doc_id,
           CASE WHEN fp_old IS NULL THEN 'added'
                WHEN fp_new IS NULL THEN 'removed'
                WHEN fp_old <> fp_new THEN 'changed'
                ELSE 'unchanged' END AS status
           FROM prev FULL OUTER JOIN nxt USING (doc_id))
         SELECT status, count(*)::BIGINT AS n,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc
         FROM j GROUP BY status ORDER BY status""")),
    Query("q88_segment_dedup", ((s, d) => Dedup.q88SegmentDedup(s, d)), Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         s0 AS (SELECT doc_id,
             list_transform(generate_series(1, CAST(ceil(len(toks) / 16.0) AS BIGINT)),
               j -> struct_pack(i := j,
                      s := array_to_string(toks[((j-1)*16+1):(j*16)], ' '))) AS lst
           FROM t),
         segs AS (SELECT doc_id, unnest(lst).i AS seg_idx, unnest(lst).s AS seg FROM s0),
         k AS (SELECT doc_id, seg_idx, seg,
                 row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
               FROM segs),
         kept AS (SELECT doc_id, seg_idx, seg FROM k WHERE rn = 1),
         per AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
                   md5(array_to_string(list(seg ORDER BY seg_idx), ' ')) AS clean_md5
                 FROM kept GROUP BY doc_id),
         tot AS (SELECT doc_id, count(*)::BIGINT AS n_segs FROM segs GROUP BY doc_id)
         SELECT d.doc_id, coalesce(tot.n_segs, 0) AS n_segs,
           coalesce(per.n_kept, 0) AS n_kept,
           coalesce(per.clean_md5, md5('')) AS clean_md5
         FROM documents d LEFT JOIN tot ON d.doc_id = tot.doc_id
         LEFT JOIN per ON d.doc_id = per.doc_id
         ORDER BY d.doc_id""")),
    Query("q89_scd2", EventOps.q89Scd2, Some(
      """WITH x AS (SELECT user_id, event_id, ts, event_type,
             CASE WHEN lag(event_type) OVER w IS NULL
                       OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS new_run
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         y AS (SELECT user_id, ts, event_type,
             CAST(sum(new_run) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
           FROM x),
         v AS (SELECT user_id, version, min(event_type) AS event_type,
                 min(ts) AS valid_from_ts, count(*)::BIGINT AS n_events
               FROM y GROUP BY user_id, version),
         z AS (SELECT *, lead(valid_from_ts) OVER (PARTITION BY user_id
                 ORDER BY version) AS valid_to_ts FROM v)
         SELECT user_id, version, event_type,
           strftime(valid_from_ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
           strftime(valid_to_ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
           n_events,
           (CASE WHEN valid_to_ts IS NULL THEN 1 ELSE 0 END)::BIGINT AS is_current
         FROM z ORDER BY user_id, version""")),
    Query("q90_length_histogram", TextOps.q90LengthHistogram, Some(
      """SELECT source, (length(bin(n_chars)) - 1)::BIGINT AS bucket,
         count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS total_chars,
         min(n_chars) AS min_chars, max(n_chars) AS max_chars
         FROM documents GROUP BY source, bucket ORDER BY source, bucket""")),
    Query("q91_sparse_cosine", ((s, d) => Dedup.q91SparseCosinePairs(s, d)), Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         g AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 3 THEN
                 list_transform(generate_series(1, len(toks) - 2),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                 ELSE [] END)) AS gram FROM t),
         rare AS (SELECT gram FROM g GROUP BY gram HAVING count(*) <= 20),
         p AS (SELECT g.doc_id, g.gram FROM g JOIN rare USING (gram)),
         norms AS (SELECT doc_id, count(*)::BIGINT AS n FROM p GROUP BY doc_id),
         dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS dot
                  FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
         SELECT doc_a, doc_b, dot, na.n AS n_a, nb.n AS n_b,
           (dot * dot * 1000000) // (na.n * nb.n) AS cos2_micro
         FROM dots JOIN norms na ON na.doc_id = doc_a
                   JOIN norms nb ON nb.doc_id = doc_b
         ORDER BY cos2_micro DESC, doc_a, doc_b LIMIT 20""")),
    Query("q92_outlier_lengths", TextOps.q92OutlierLengths, Some(
      """WITH st AS (SELECT source, count(*)::BIGINT AS n, sum(n_chars)::BIGINT AS s,
                       sum(n_chars * n_chars)::BIGINT AS q
                     FROM documents GROUP BY source),
         f AS (SELECT d.source, d.doc_id,
                 CASE WHEN (st.n * d.n_chars - st.s) * (st.n * d.n_chars - st.s)
                           > 4 * (st.n * st.q - st.s * st.s) THEN 1 ELSE 0 END AS is_outlier,
                 st.n, st.s
               FROM documents d JOIN st USING (source))
         SELECT source, min(n) AS n_docs, (min(s) * 1000000) // min(n) AS mean_micro,
           sum(is_outlier)::BIGINT AS n_outliers,
           min(CASE WHEN is_outlier = 1 THEN doc_id END) AS first_outlier,
           max(CASE WHEN is_outlier = 1 THEN doc_id END) AS last_outlier
         FROM f GROUP BY source ORDER BY source""")),
    Query("q93_decile_bins", Sampling.q93DecileBins, Some(
      """WITH b AS (SELECT source, doc_id, n_chars,
             ntile(10) OVER (PARTITION BY source ORDER BY n_chars, doc_id)::BIGINT AS decile
           FROM documents)
         SELECT source, decile, count(*)::BIGINT AS n_docs,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars,
           sum(n_chars)::BIGINT AS total_chars
         FROM b GROUP BY source, decile ORDER BY source, decile""")),
    // rows-only by design: approx_percentile fences are GK-sketch
    // interpolations with no cross-engine hash oracle (q41/q53 were
    // retired from this set in r11 by swapping to replayable
    // register-HLL/KMV sketches; the t-digest/GK fence here has no
    // such replay); SamplingSpec pins the rank and occupancy error
    // bounds vs the exact ntile twin
    Query("q93b_approx_deciles", Sampling.q93bApproxDecileBins, None),
    // q94's oracle is q44's batch SQL verbatim — the streaming twin must
    // finalize to exactly the batch sliding-window result
    Query("q94_stream_sliding", StreamQueries.q94StreamSliding, Some(slidingWindowSql),
      streaming = true),
    Query("q95_cross_source_dups", Dedup.q95CrossSourceDups, Some(
      """WITH g AS (SELECT md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS fp,
                      source, count(*)::BIGINT AS cnt
                    FROM documents GROUP BY 1, 2)
         SELECT a.source AS source_a, b.source AS source_b,
           count(*)::BIGINT AS n_texts, sum(a.cnt * b.cnt)::BIGINT AS n_pairs
         FROM g a JOIN g b ON a.fp = b.fp AND a.source < b.source
         GROUP BY 1, 2 ORDER BY 1, 2""")),
    Query("q96_percentile_rank", EventOps.q96PercentileRank, Some(
      """WITH x AS (SELECT event_id, event_type,
             row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM events)
         SELECT event_id, event_type,
           (CASE WHEN n = 1 THEN 0 ELSE ((rn - 1) * 1000000) // (n - 1) END)::BIGINT AS pr_micro
         FROM x ORDER BY event_id""")),
    // q97 replays q66's byte-slice framing, then the q74-shaped
    // collapse/total/join-back in lists
    Query("q97_frame_dedup", Multimodal.q97FrameDedup, Some(
      """WITH b AS (SELECT doc_id, text,
           CAST(floor(strlen(text) / 128.0) AS BIGINT) AS nf FROM documents),
         f AS (SELECT doc_id, text,
           unnest(generate_series(0, nf - 1)) AS frame_no
           FROM b WHERE nf >= 1),
         fr AS (SELECT doc_id,
           md5(substring(text, CAST(frame_no * 128 + 1 AS INT), 64)) AS h FROM f),
         pd AS (SELECT doc_id, h, count(*)::BIGINT AS c FROM fr GROUP BY 1, 2),
         tot AS (SELECT h, sum(c)::BIGINT AS tot FROM pd GROUP BY h),
         per AS (SELECT doc_id, sum(c)::BIGINT AS n_frames,
                   sum(CASE WHEN tot >= 2 THEN c ELSE 0 END)::BIGINT AS n_dup
                 FROM pd JOIN tot USING (h) GROUP BY doc_id)
         SELECT d.doc_id,
           coalesce(per.n_frames, 0) AS n_frames,
           coalesce(per.n_dup, 0) AS n_dup,
           CASE WHEN per.n_frames IS NULL OR per.n_frames = 0 THEN 0
                ELSE (per.n_dup * 1000000) // per.n_frames END AS dup_micro
         FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
         ORDER BY d.doc_id""")),
    Query("q98_stream_enrich", StreamQueries.q98StreamEnrich, Some(
      """WITH r AS (SELECT user_id, event_id, ts, event_type,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS rn
           FROM events),
         prof AS (SELECT user_id,
             min(CASE WHEN rn = 1 THEN event_type END) AS u_first_type,
             count(*)::BIGINT AS u_n_events
           FROM r GROUP BY user_id)
         SELECT e.event_id, e.user_id, e.event_type,
           prof.u_first_type, prof.u_n_events
         FROM events e JOIN prof USING (user_id)
         ORDER BY e.event_id"""), streaming = true),
    Query("q99_label_prop", ((s, d) => GraphOps.q99LabelProp(s, d)), Some(GraphOps.q99OracleSql)),
    Query("q100_gap_fill", EventOps.q100GapFill, Some(
      """WITH hourly AS (
           SELECT user_id, date_trunc('hour', ts) AS h,
             CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
               AS value_micro,
             count(*) AS n_events
           FROM events GROUP BY 1, 2),
         span AS (SELECT user_id, min(h) AS h0, max(h) AS h1
                  FROM hourly GROUP BY 1),
         spine AS (SELECT user_id,
                     unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
                   FROM span)
         SELECT s.user_id,
           strftime(s.h, '%Y-%m-%d %H:%M') AS hour,
           coalesce(hh.n_events, 0) AS n_events,
           last_value(hh.value_micro IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_micro,
           hh.h IS NULL AS is_gap
         FROM spine s LEFT JOIN hourly hh
           ON hh.user_id = s.user_id AND hh.h = s.h
         ORDER BY s.user_id, hour""")),
    Query("q101_stream_outer_join", StreamQueries.q101StreamJoinOuter, Some(
      """SELECT a.event_id AS view_id, b.event_id AS purchase_id, a.user_id,
         strftime(a.ts, '%Y-%m-%d %H:%M:%S.%f') AS v_ts,
         strftime(b.ts, '%Y-%m-%d %H:%M:%S.%f') AS p_ts
         FROM (SELECT * FROM events WHERE event_type = 'view') a
         LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
         ON a.user_id = b.user_id
            AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
         ORDER BY view_id, purchase_id"""), streaming = true),
    Query("q102_ann_recall", Similarity.q102AnnRecall, Some(Similarity.q102OracleSql)),
    Query("q103_token_budget", ((s, d) => Sampling.q103TokenBudget(s, d)), Some(
      """WITH t AS (SELECT source, doc_id,
           len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents),
         c AS (SELECT source, doc_id, n_tokens,
           CAST(sum(n_tokens) OVER (PARTITION BY source
             ORDER BY n_tokens DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_tokens
           FROM t)
         SELECT source, doc_id, n_tokens, cum_tokens FROM c
         WHERE cum_tokens <= 1500 ORDER BY source, cum_tokens""")),
    Query("q104_zorder_key", Relational.q104ZOrderKey, Some(Relational.q104OracleSql)),
    Query("q105_weighted_sample", Sampling.q105WeightedSample, Some(
      """WITH t AS (SELECT source, doc_id,
           ('0x' || substr(md5(text), 1, 13))::BIGINT // n_chars AS prio
           FROM documents),
         r AS (SELECT source, doc_id, prio,
           row_number() OVER (PARTITION BY source
             ORDER BY prio, doc_id) AS rk FROM t)
         SELECT source, doc_id, prio, rk FROM r WHERE rk <= 10
         ORDER BY source, rk""")),
    Query("q106_knn_classify", Similarity.q106KnnClassify, Some(
      """WITH e AS (SELECT vec_id, embedding,
           sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
           FROM embeddings),
         q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm FROM e WHERE vec_id < 8),
         sims AS (SELECT q_id, c.vec_id AS n_id,
           list_sum(list_transform(list_zip(q_emb, c.embedding),
             p -> p[1]::DOUBLE * p[2]::DOUBLE)) / (q_nrm * c.nrm) AS sim_exact
           FROM q JOIN e c ON c.vec_id <> q_id),
         r AS (SELECT q_id, n_id,
           row_number() OVER (PARTITION BY q_id ORDER BY sim_exact DESC, n_id) AS rn
           FROM sims),
         nn AS (SELECT q_id, n_id FROM r WHERE rn <= 5),
         v AS (SELECT nn.q_id, emb.label, count(*) AS votes
               FROM nn JOIN embeddings emb ON emb.vec_id = nn.n_id
               GROUP BY nn.q_id, emb.label),
         p AS (SELECT q_id, label, votes,
           row_number() OVER (PARTITION BY q_id
             ORDER BY votes DESC, label) AS rk FROM v)
         SELECT q_id, label AS pred_label, votes FROM p WHERE rk = 1
         ORDER BY q_id""")),
    Query("q107_incremental_dedup", Dedup.q107IncrementalDedup, Some(
      """WITH f AS (SELECT doc_id, md5(text) AS fp_exact,
           md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS fp_prefix
           FROM documents),
         ex AS (SELECT * FROM f WHERE doc_id % 5 <> 0),
         inc AS (SELECT * FROM f WHERE doc_id % 5 = 0)
         SELECT i.doc_id,
           CASE WHEN EXISTS (SELECT 1 FROM ex WHERE ex.fp_exact = i.fp_exact)
                  THEN 'dup_exact'
                WHEN EXISTS (SELECT 1 FROM ex WHERE ex.fp_prefix = i.fp_prefix)
                  THEN 'dup_prefix'
                ELSE 'new' END AS status
         FROM inc i ORDER BY i.doc_id""")),
    Query("q108_source_similarity", Dedup.q108SourceSimilarity, Some(
      """WITH t AS (SELECT source, string_split(text, ' ') AS toks
                    FROM documents),
         g AS (SELECT DISTINCT source, unnest(CASE WHEN len(toks) >= 3 THEN
                 list_transform(generate_series(1, len(toks) - 2),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                 ELSE [] END) AS gram
               FROM t),
         n AS (SELECT source, count(*) AS n_grams FROM g GROUP BY 1),
         p AS (SELECT a.source AS source_a, b.source AS source_b,
                 count(*) AS n_inter
               FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
               GROUP BY 1, 2)
         SELECT p.source_a, p.source_b, p.n_inter,
           na.n_grams AS n_a, nb.n_grams AS n_b,
           CAST(p.n_inter * 1000000 // (na.n_grams + nb.n_grams - p.n_inter)
                AS BIGINT) AS jac_micro
         FROM p
         JOIN n na ON na.source = p.source_a
         JOIN n nb ON nb.source = p.source_b
         ORDER BY source_a, source_b""")),
    Query("q109_token_drift", TextOps.q109TokenDrift, Some(
      """WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS token
                     FROM documents),
         c AS (SELECT token, count(*) AS c FROM tk GROUP BY 1),
         vocab AS (SELECT token, c FROM c ORDER BY c DESC, token LIMIT 32),
         ns AS (SELECT source, count(*) AS n_s FROM tk GROUP BY 1),
         tot AS (SELECT count(*) AS n_corpus FROM tk),
         o AS (SELECT source, token, count(*) AS o
               FROM tk JOIN vocab USING (token) GROUP BY 1, 2),
         grid AS (SELECT ns.source, ns.n_s, v.token, v.c,
                    coalesce(o.o, 0) AS o
                  FROM ns CROSS JOIN vocab v
                  LEFT JOIN o ON o.source = ns.source AND o.token = v.token),
         r AS (SELECT source, n_s,
                 o * 1000000 // n_s AS r_s,
                 c * 1000000 // (SELECT n_corpus FROM tot) AS r_c
               FROM grid)
         SELECT source, min(n_s) AS n_tokens,
           CAST(sum((r_s - r_c) * (r_s - r_c) // (r_c + 1)) AS BIGINT)
             AS drift_micro
         FROM r GROUP BY source ORDER BY source""")),
    Query("q110_session_paths", EventOps.q110SessionPaths, Some(
      """WITH x AS (SELECT user_id, event_id, ts, event_type,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_s
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         y AS (SELECT user_id, ts, event_id, event_type,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS session_id
           FROM x),
         p AS (SELECT user_id, session_id,
           array_to_string(list(event_type ORDER BY ts, event_id)[1:5], '>')
             AS path
           FROM y GROUP BY user_id, session_id),
         c AS (SELECT path, count(*) AS n_sessions FROM p GROUP BY path),
         r AS (SELECT path, n_sessions,
           row_number() OVER (ORDER BY n_sessions DESC, path) AS rk FROM c)
         SELECT rk, path, n_sessions FROM r WHERE rk <= 20 ORDER BY rk""")),
    Query("q111_normalize", TextOps.q111Normalize, Some(
      """WITH n AS (SELECT doc_id, text,
           trim(regexp_replace(lower(nfc_normalize(text)), '[ \t\n\f\r]+', ' ', 'g'))
             AS norm
           FROM documents)
         SELECT doc_id, md5(norm) AS norm_fp,
           length(norm) AS n_chars_norm,
           norm <> text AS changed
         FROM n ORDER BY doc_id""")),
    Query("q112_attribution", EventOps.q112Attribution, Some(
      """WITH v AS (SELECT event_id AS view_id, user_id, ts AS v_ts
                    FROM events WHERE event_type = 'view'),
         p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts,
                 CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS p_micro
               FROM events WHERE event_type = 'purchase'),
         t AS (SELECT v.view_id, p.purchase_id, p.p_micro,
                 count(*) OVER (PARTITION BY p.purchase_id) AS n_views
               FROM v JOIN p ON v.user_id = p.user_id
                 AND v.v_ts <= p.p_ts
                 AND v.v_ts >= p.p_ts - INTERVAL 30 MINUTE)
         SELECT view_id,
           CAST(sum(p_micro // n_views) AS BIGINT) AS credit_micro,
           count(*) AS n_purchases
         FROM t GROUP BY view_id ORDER BY view_id""")),
    Query("q113_cooccurrence", TextOps.q113CooccurrenceLift, Some(
      """WITH dt AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
                     FROM documents),
         dfreq AS (SELECT token, count(*) AS df FROM dt GROUP BY 1),
         vocab AS (SELECT token, df FROM dfreq ORDER BY df DESC, token LIMIT 32),
         iv AS (SELECT dt.doc_id, dt.token, v.df FROM dt JOIN vocab v USING (token)),
         nd AS (SELECT count(*) AS n_docs FROM documents),
         pr AS (SELECT a.token AS token_a, b.token AS token_b,
                  count(*) AS c_ab, min(a.df) AS df_a, min(b.df) AS df_b
                FROM iv a JOIN iv b
                ON a.doc_id = b.doc_id AND a.token < b.token
                GROUP BY 1, 2)
         SELECT token_a, token_b, c_ab, df_a, df_b,
           CAST(c_ab * (SELECT n_docs FROM nd) * 1000000 // (df_a * df_b)
                AS BIGINT) AS lift_micro
         FROM pr ORDER BY token_a, token_b""")),
    Query("q114_rolling_distinct", EventOps.q114RollingDistinct, Some(
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
                     FROM events),
         sp AS (SELECT max(day) AS d1 FROM du),
         f AS (SELECT DISTINCT user_id,
                 unnest(generate_series(day, day + INTERVAL 6 DAY,
                                        INTERVAL 1 DAY)) AS w_end
               FROM du)
         SELECT strftime(w_end, '%Y-%m-%d') AS day,
           count(*) AS n_users
         FROM f WHERE w_end <= (SELECT d1 FROM sp)
         GROUP BY w_end ORDER BY day""")),
    Query("q115_retention", EventOps.q115RetentionCohorts, Some(
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
         st AS (SELECT min(day) AS d0 FROM ev),
         wk AS (SELECT DISTINCT user_id,
                  CAST(datediff('day', (SELECT d0 FROM st), day) AS BIGINT) // 7
                    AS week
                FROM ev),
         ch AS (SELECT user_id, min(week) AS cohort_week FROM wk
                GROUP BY user_id)
         SELECT ch.cohort_week, wk.week - ch.cohort_week AS week_offset,
           count(*) AS n_users
         FROM wk JOIN ch USING (user_id)
         GROUP BY 1, 2 ORDER BY cohort_week, week_offset""")),
    Query("q116_triangles", GraphOps.q116Triangles, Some(GraphOps.q116OracleSql)),
    Query("q117_ols", TextOps.q117OlsCharsPerToken, Some(
      """WITH a AS (SELECT source, count(*) AS n,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sx,
           CAST(sum(n_chars) AS BIGINT) AS sy,
           CAST(sum(len(string_split(text, ' ')) * len(string_split(text, ' '))) AS BIGINT) AS sxx,
           CAST(sum(len(string_split(text, ' ')) * n_chars) AS BIGINT) AS sxy
           FROM documents GROUP BY source)
         SELECT source, n,
           CAST((n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx)
                AS BIGINT) AS slope_micro,
           CAST((sy * 1000000 - ((n * sxy - sx * sy) * 1000000 //
                 (n * sxx - sx * sx)) * sx) // n AS BIGINT) AS intercept_micro
         FROM a ORDER BY source""")),
    Query("q118_daily_anomalies", EventOps.q118DailyAnomalies, Some(
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                      count(*) AS c
                    FROM events GROUP BY 1, 2),
         st AS (SELECT event_type, count(*) AS n,
                  CAST(sum(c) AS BIGINT) AS ss,
                  CAST(sum(c * c) AS BIGINT) AS qq
                FROM d GROUP BY 1)
         SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day,
           d.c AS n_events,
           (st.n * d.c - st.ss) * (st.n * d.c - st.ss) >
             4 * (st.n * st.qq - st.ss * st.ss) AS is_anomaly
         FROM d JOIN st USING (event_type)
         ORDER BY d.event_type, day""")),
    Query("q119_key_skew", Relational.q119KeySkewProfile, Some(
      """WITH k AS (SELECT l_orderkey, count(*) AS n FROM lineitem
                    GROUP BY 1),
         b AS (SELECT length(bin(n)) - 1 AS bucket, n FROM k)
         SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_keys,
           min(n) AS min_rows, max(n) AS max_rows,
           CAST(sum(n) AS BIGINT) AS total_rows
         FROM b GROUP BY bucket ORDER BY bucket""")),
    Query("q120_winsorize", Relational.q120Winsorize, Some(
      """WITH o AS (SELECT o_orderpriority AS prio,
           CAST(floor(o_totalprice * 1e6 + 0.5) AS BIGINT) AS p_micro
           FROM orders),
         bands AS (SELECT prio,
           CAST(percentile_disc(0.05) WITHIN GROUP (ORDER BY p_micro)
                AS BIGINT) AS lo,
           CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY p_micro)
                AS BIGINT) AS hi
           FROM o GROUP BY prio)
         SELECT o.prio, count(*) AS n,
           min(lo) AS lo_micro, min(hi) AS hi_micro,
           CAST(sum(p_micro) AS BIGINT) AS sum_raw,
           CAST(sum(greatest(lo, least(hi, p_micro))) AS BIGINT)
             AS sum_winsorized
         FROM o JOIN bands USING (prio)
         GROUP BY o.prio ORDER BY o.prio""")),
    Query("q121_split_leakage", Sampling.q121SplitLeakage, Some(
      """WITH d AS (SELECT md5(text) AS fp,
           CASE WHEN doc_id % 100 < 80 THEN 'train'
                WHEN doc_id % 100 < 90 THEN 'val' ELSE 'test' END AS s_pos,
           CASE WHEN ('0x' || substr(md5(text), 29, 4))::BIGINT % 100 < 80
                  THEN 'train'
                WHEN ('0x' || substr(md5(text), 29, 4))::BIGINT % 100 < 90
                  THEN 'val' ELSE 'test' END AS s_ch
           FROM documents),
         g AS (SELECT fp, count(*) AS n_docs,
                 count(DISTINCT s_pos) AS k_pos,
                 count(DISTINCT s_ch) AS k_ch
               FROM d GROUP BY fp HAVING count(*) > 1)
         SELECT count(*) AS n_dup_groups,
           count(*) FILTER (WHERE k_pos > 1) AS leaked_positional,
           count(*) FILTER (WHERE k_ch > 1) AS leaked_content_hash
         FROM g""")),
    Query("q122_running_distinct", EventOps.q122RunningDistinct, Some(
      """WITH f AS (SELECT user_id, event_id, ts, event_type,
           CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                  ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS is_first
           FROM events)
         SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts, event_type,
           CAST(sum(is_first) OVER (PARTITION BY user_id
             ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS k_types
         FROM f ORDER BY user_id, ts, event_id""")),
    // q123 oracle (r13): p is MATERIALIZED — DuckDB inlines CTEs, so the
    // bigram frame was re-expanded inside c12, c1 AND sc — and the
    // vocabulary size arrives via a 1-row CROSS JOIN: the correlated
    // (SELECT v FROM vt) form re-evaluated per join row and never
    // finished on the 50k-type Zipf corpus at sf1.
    Query("q123_bigram_lm", TextOps.q123BigramLm, Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents),
         bi AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2 THEN
                  list_transform(generate_series(1, len(toks) - 1),
                    i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))
                ELSE [] END) AS b
                FROM t),
         p AS MATERIALIZED (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bi),
         c12 AS (SELECT w1, w2, count(*) AS c12 FROM p GROUP BY 1, 2),
         c1 AS (SELECT w1, count(*) AS c1 FROM p GROUP BY 1),
         vt AS (SELECT count(DISTINCT tok) AS v FROM
                 (SELECT unnest(string_split(text, ' ')) AS tok
                  FROM documents)),
         sc AS (SELECT p.doc_id, count(*) AS n_bigrams,
                  CAST(sum((c12.c12 + 1) * 1000000 //
                           (c1.c1 + vt.v)) AS BIGINT)
                    AS sum_micro
                FROM p JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
                     CROSS JOIN vt
                GROUP BY p.doc_id)
         SELECT d.doc_id,
           coalesce(sc.n_bigrams, 0) AS n_bigrams,
           coalesce(sc.sum_micro // sc.n_bigrams, 0) AS lm_micro
         FROM documents d LEFT JOIN sc USING (doc_id)
         ORDER BY d.doc_id""")),
    Query("q124_batch_score", ((s, d) => Inference.q124BatchScore(s, d)), Some(
      """SELECT doc_id,
         ('0x' || substr(md5(text), 1, 13))::BIGINT % 1000000 AS score_micro
         FROM documents ORDER BY doc_id""")),
    Query("q125_label_cohesion", Similarity.q125LabelCohesion, Some(Similarity.q125OracleSql)),
    Query("q126_weighted_pagerank", ((s, d) => GraphOps.q126WeightedPageRank(s, d)),
      Some(GraphOps.q126OracleSql)),
    Query("q127_cumulative_users", EventOps.q127CumulativeUsers, Some(
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS day
                    FROM events GROUP BY user_id),
         p AS (SELECT day, count(*) AS n_new FROM f GROUP BY day)
         SELECT strftime(day, '%Y-%m-%d') AS day, n_new,
           CAST(sum(n_new) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_users
         FROM p ORDER BY day""")),
    Query("q128_ivf_balance", Similarity.q128IvfBalance, Some(Similarity.q128OracleSql)),
    Query("q129_dedup_rate", Dedup.q129DedupRate, Some(
      """WITH fp AS (SELECT source, md5(text) AS fp FROM documents),
         gl AS (SELECT fp, count(DISTINCT source) AS n_sources
                FROM fp GROUP BY fp),
         sf AS (SELECT source, fp.fp, count(*) AS n FROM fp GROUP BY 1, 2)
         SELECT sf.source,
           CAST(sum(sf.n) AS BIGINT) AS n_docs,
           count(*) AS n_distinct,
           count(*) FILTER (WHERE gl.n_sources = 1) AS n_exclusive,
           CAST((CAST(sum(sf.n) AS BIGINT) - count(*)) * 1000000 //
                CAST(sum(sf.n) AS BIGINT) AS BIGINT) AS dup_micro
         FROM sf JOIN gl USING (fp)
         GROUP BY sf.source ORDER BY sf.source""")),
    Query("q130_gap_histogram", EventOps.q130GapHistogram, Some(
      """WITH g AS (SELECT event_type,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (
             PARTITION BY user_id, event_type ORDER BY ts, event_id)
             AS gap_us
           FROM events),
         b AS (SELECT event_type,
           CASE WHEN gap_us // 1000000 <= 0 THEN -1
                ELSE length(bin(gap_us // 1000000)) - 1 END AS bucket
           FROM g WHERE gap_us IS NOT NULL)
         SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
           count(*) AS n_gaps
         FROM b GROUP BY 1, 2 ORDER BY event_type, bucket""")),
    Query("q131_zipf_coverage", TextOps.q131ZipfCoverage, Some(
      """WITH c AS (SELECT token, count(*) AS c FROM
           (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
           GROUP BY token),
         t AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM c),
         r AS (SELECT token, c,
           row_number() OVER (ORDER BY c DESC, token) AS rank,
           CAST(sum(c) OVER (ORDER BY c DESC, token
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum
           FROM c)
         SELECT rank, token AS rank_token, cum,
           CAST(cum * 1000000 // (SELECT n_total FROM t) AS BIGINT)
             AS coverage_micro
         FROM r WHERE (rank & (rank - 1)) = 0 ORDER BY rank""")),
    Query("q132_churn_deltas", EventOps.q132ChurnDeltas, Some(
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
         st AS (SELECT min(day) AS d0 FROM ev),
         wk AS (SELECT DISTINCT user_id,
                  CAST(datediff('day', (SELECT d0 FROM st), day) AS BIGINT)
                    // 7 AS week
                FROM ev),
         f AS (SELECT user_id, week,
                 lag(week) OVER (PARTITION BY user_id ORDER BY week)
                   AS prev_week,
                 lead(week) OVER (PARTITION BY user_id ORDER BY week)
                   AS next_week
               FROM wk),
         act AS (SELECT week, count(*) AS n_active,
                   count(*) FILTER (WHERE prev_week IS NULL) AS n_new,
                   count(*) FILTER (WHERE prev_week IS NOT NULL
                                    AND prev_week < week - 1)
                     AS n_resurrected
                 FROM f GROUP BY week),
         ch AS (SELECT week + 1 AS week, count(*) AS n_churned
                FROM f WHERE next_week IS NULL OR next_week > week + 1
                GROUP BY week + 1)
         SELECT act.week, n_active, n_new, n_resurrected,
           coalesce(ch.n_churned, 0) AS n_churned
         FROM act LEFT JOIN ch USING (week) ORDER BY act.week""")),
    Query("q133_time_to_convert", EventOps.q133TimeToConvert, Some(
      """WITH fv AS (SELECT user_id, min(ts) AS v_ts FROM events
                     WHERE event_type = 'view' GROUP BY user_id),
         fp AS (SELECT e.user_id, min(e.ts) AS p_ts, min(fv.v_ts) AS v_ts
                FROM events e JOIN fv USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts >= fv.v_ts
                GROUP BY e.user_id),
         d AS (SELECT (epoch_us(p_ts) - epoch_us(v_ts)) // 1000000
                 AS delay_s FROM fp)
         SELECT count(*) AS n_converted,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY delay_s)
                AS BIGINT) AS p50_s,
           CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY delay_s)
                AS BIGINT) AS p90_s
         FROM d""")),
    Query("q134_ab_split", EventOps.q134AbSplit, Some(
      """WITH u AS (SELECT user_id,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS converted,
           CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 32, 1))
                  ::BIGINT % 2 = 0 THEN 'A' ELSE 'B' END AS arm
           FROM events GROUP BY user_id)
         SELECT arm, count(*) AS n_users,
           CAST(sum(converted) AS BIGINT) AS n_converted,
           CAST(CAST(sum(converted) AS BIGINT) * 1000000 // count(*)
                AS BIGINT) AS conv_micro
         FROM u GROUP BY arm ORDER BY arm""")),
    Query("q135_funnel_rates", EventOps.q135FunnelRates, Some(
      """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
                    WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, min(e.ts) AS t_click
               FROM events e JOIN v ON e.user_id = v.user_id
               WHERE e.event_type = 'click' AND e.ts > v.t_view
               GROUP BY e.user_id),
         p AS (SELECT e.user_id, min(e.ts) AS t_purchase
               FROM events e JOIN c ON e.user_id = c.user_id
               WHERE e.event_type = 'purchase' AND e.ts > c.t_click
               GROUP BY e.user_id),
         st AS (SELECT (1 + CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END
                          + CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END)
                          ::BIGINT AS stage
                FROM v LEFT JOIN c ON v.user_id = c.user_id
                       LEFT JOIN p ON v.user_id = p.user_id),
         cnt AS (SELECT stage, count(*) AS n_at_stage FROM st
                 GROUP BY stage),
         r AS (SELECT stage,
                 CAST(sum(n_at_stage) OVER (ORDER BY stage DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n_reached,
                 CAST(sum(n_at_stage) OVER (ORDER BY stage DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS BIGINT) AS n_next
               FROM cnt)
         SELECT stage, n_reached,
           coalesce(n_next, 0) AS n_to_next,
           coalesce(n_next * 1000000 // n_reached, 0) AS step_micro
         FROM r ORDER BY stage""")),
    Query("q136_table_stats", Relational.q136TableStats, Some(
      """WITH t AS (SELECT count(*) AS n_rows FROM lineitem),
         s AS (
           SELECT 'l_orderkey' AS "column", count(l_orderkey) AS n_nonnull,
             count(DISTINCT l_orderkey) AS ndv,
             CAST(min(l_orderkey) AS BIGINT) AS min_v,
             CAST(max(l_orderkey) AS BIGINT) AS max_v FROM lineitem
           UNION ALL
           SELECT 'l_partkey', count(l_partkey),
             count(DISTINCT l_partkey),
             CAST(min(l_partkey) AS BIGINT),
             CAST(max(l_partkey) AS BIGINT) FROM lineitem
           UNION ALL
           SELECT 'l_suppkey', count(l_suppkey),
             count(DISTINCT l_suppkey),
             CAST(min(l_suppkey) AS BIGINT),
             CAST(max(l_suppkey) AS BIGINT) FROM lineitem
           UNION ALL
           SELECT 'l_linenumber', count(l_linenumber),
             count(DISTINCT l_linenumber),
             CAST(min(l_linenumber) AS BIGINT),
             CAST(max(l_linenumber) AS BIGINT) FROM lineitem)
         SELECT s."column", (SELECT n_rows FROM t) AS n_rows,
           n_nonnull, ndv, min_v, max_v
         FROM s ORDER BY s."column"""")),
    Query("q137_denormalize", Relational.q137Denormalize, Some(
      """SELECT l.l_orderkey, l.l_linenumber, l.l_partkey,
         round(l.l_extendedprice, 4) AS price,
         strftime(o.o_orderdate, '%Y-%m-%d') AS o_date,
         o.o_orderpriority, c.c_mktsegment, n.n_name
         FROM lineitem l
         JOIN orders o ON o.o_orderkey = l.l_orderkey
         JOIN customer c ON c.c_custkey = o.o_custkey
         JOIN nation n ON n.n_nationkey = c.c_nationkey
         ORDER BY l.l_orderkey, l.l_linenumber LIMIT 5000""")),
    Query("q138_similarity_histogram", Dedup.q138SimilarityHistogram, Some(
      """WITH t AS (SELECT doc_id, source, n_chars,
           string_split(text, ' ') AS toks FROM documents),
         d AS (SELECT doc_id, source,
           CAST(floor(n_chars / 64) AS BIGINT) AS bucket,
           list_distinct(CASE WHEN len(toks) >= 3 THEN
             list_transform(generate_series(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ELSE [] END) AS sh
           FROM t),
         ds AS (SELECT doc_id, source, bucket, sh,
           doc_id % CAST(ceil((count(*) OVER (PARTITION BY source, bucket))
                              / 1024.0) AS BIGINT) AS sub
           FROM d),
         p AS (SELECT len(list_intersect(a.sh, b.sh))::BIGINT AS i,
                 (len(a.sh) + len(b.sh)
                  - len(list_intersect(a.sh, b.sh)))::BIGINT AS u
               FROM ds a JOIN ds b
               ON a.source = b.source AND a.bucket = b.bucket
                  AND a.sub = b.sub AND a.doc_id < b.doc_id)
         SELECT (i * 1000000 // u) // 100000 AS bucket,
           count(*) AS n_pairs
         FROM p WHERE u > 0 GROUP BY 1 ORDER BY bucket""")),
    Query("q139_cluster_sizes", Dedup.q139ClusterSizeHistogram, Some(
      s"""WITH $dupClusterCtes,
         sz AS (SELECT DISTINCT cluster_id, count(*) OVER
                  (PARTITION BY cluster_id) AS n_members
                FROM comp)
         SELECT CAST(length(bin(n_members)) - 1 AS BIGINT) AS bucket,
           count(*) AS n_clusters,
           CAST(sum(n_members) AS BIGINT) AS n_docs
         FROM sz GROUP BY 1 ORDER BY bucket""")),
    Query("q140_ab_confidence", EventOps.q140AbConfidence, Some(
      """WITH u AS (SELECT user_id,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS converted,
           CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 32, 1))
                  ::BIGINT % 2 = 0 THEN 'A' ELSE 'B' END AS arm
           FROM events GROUP BY user_id),
         arms AS (SELECT arm, count(*) AS n_users,
           CAST(CAST(sum(converted) AS BIGINT) * 1000000 // count(*)
                AS BIGINT) AS conv_micro
           FROM u GROUP BY arm),
         hw AS (SELECT arm, n_users, conv_micro,
           CAST(floor(1.959964 *
             sqrt(conv_micro::DOUBLE * (1000000 - conv_micro)::DOUBLE
                  / n_users::DOUBLE)) AS BIGINT) AS hw_micro
           FROM arms)
         SELECT arm, n_users, conv_micro, hw_micro,
           greatest(conv_micro - hw_micro, 0) AS lo_micro,
           least(conv_micro + hw_micro, 1000000) AS hi_micro
         FROM hw ORDER BY arm""")),
    Query("q141_new_vs_returning", EventOps.q141NewVsReturning, Some(
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
         fd AS (SELECT user_id, min(day) AS first_day FROM ev
                GROUP BY user_id),
         j AS (SELECT ev.day,
                 CASE WHEN ev.day = fd.first_day THEN 1 ELSE 0 END AS is_new
               FROM ev JOIN fd USING (user_id))
         SELECT strftime(day, '%Y-%m-%d') AS day,
           count(*) AS n_events,
           CAST(sum(is_new) AS BIGINT) AS n_new_user_events,
           CAST(CAST(sum(is_new) AS BIGINT) * 1000000 // count(*)
                AS BIGINT) AS new_share_micro
         FROM j GROUP BY day ORDER BY day""")),
    Query("q142_ship_latency", Relational.q142ShipLatency, Some(
      """WITH j AS (SELECT o.o_orderpriority AS prio,
           CAST(datediff('day', o.o_orderdate, l.l_shipdate) AS BIGINT)
             AS lat_days
           FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey)
         SELECT prio, count(*) AS n_lines,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY lat_days)
                AS BIGINT) AS p50_days,
           CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY lat_days)
                AS BIGINT) AS p90_days
         FROM j GROUP BY prio ORDER BY prio""")),
    Query("q143_unpivot", Relational.q143Unpivot, Some(
      """WITH w AS (SELECT l_returnflag,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_price_cents,
           count(*) AS n_rows FROM lineitem GROUP BY 1)
         SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM w
         UNION ALL
         SELECT l_returnflag, 'sum_price_cents', sum_price_cents FROM w
         UNION ALL
         SELECT l_returnflag, 'n_rows', n_rows FROM w
         ORDER BY l_returnflag, metric""")),
    Query("q144_sorted_neighborhood", Dedup.q144SortedNeighborhood, Some(
      """WITH t AS (SELECT doc_id, source, substr(text, 1, 24) AS sortkey,
           string_split(text, ' ') AS toks FROM documents),
         d AS (SELECT doc_id, source, sortkey,
           list_distinct(CASE WHEN len(toks) >= 3 THEN
             list_transform(generate_series(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ELSE [] END) AS sh FROM t),
         n AS (SELECT doc_id, sh,
             lead(doc_id, 1) OVER w AS n1, lead(sh, 1) OVER w AS s1,
             lead(doc_id, 2) OVER w AS n2, lead(sh, 2) OVER w AS s2,
             lead(doc_id, 3) OVER w AS n3, lead(sh, 3) OVER w AS s3
           FROM d WINDOW w AS (PARTITION BY source ORDER BY sortkey, doc_id)),
         p AS (SELECT doc_id AS a, n1 AS b, sh, s1 AS nsh FROM n WHERE n1 IS NOT NULL
           UNION ALL SELECT doc_id, n2, sh, s2 FROM n WHERE n2 IS NOT NULL
           UNION ALL SELECT doc_id, n3, sh, s3 FROM n WHERE n3 IS NOT NULL),
         j AS (SELECT a, b, len(list_intersect(sh, nsh)) AS i,
                      len(sh) AS ma, len(nsh) AS mb FROM p),
         f AS (SELECT a, b,
                 CAST((i * 1000000) // (ma + mb - i) AS BIGINT) AS sim_micro
               FROM j WHERE ma + mb > i)
         SELECT least(a, b) AS doc_a, greatest(a, b) AS doc_b, sim_micro
         FROM f WHERE sim_micro >= 200000
         ORDER BY sim_micro DESC, doc_a, doc_b LIMIT 20""")),
    Query("q145_prefix_jaccard", ((s, d) => Dedup.q145PrefixJaccard(s, d)), Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         d AS (SELECT doc_id,
           list_distinct(CASE WHEN len(toks) >= 3 THEN
             list_transform(generate_series(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ELSE [] END) AS sh FROM t),
         e AS (SELECT doc_id, unnest(sh) AS g, len(sh) AS m FROM d
               WHERE len(sh) > 0),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i,
                      any_value(a.m) AS ma, any_value(b.m) AS mb
               FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
         SELECT doc_a, doc_b,
           CAST((i * 1000000) // (ma + mb - i) AS BIGINT) AS jac_micro
         FROM p WHERE i * 1000000 >= 500000 * (ma + mb - i)
         ORDER BY doc_a, doc_b""")),
    Query("q146_corr_matrix", Relational.q146CorrMatrix, Some(Relational.q146OracleSql)),
    Query("q147_simpson_diversity", TextOps.q147SimpsonDiversity, Some(
      """WITH tok AS (SELECT doc_id, source,
           unnest(string_split(text, ' ')) AS t FROM documents),
         c AS (SELECT doc_id, source, t, count(*) AS c FROM tok GROUP BY 1, 2, 3),
         per AS (SELECT doc_id, source,
           CAST(1000000 - (1000000 * sum(c * c)) // (sum(c) * sum(c))
                AS BIGINT) AS simpson_micro
           FROM c GROUP BY 1, 2)
         SELECT source, count(*) AS n_docs,
           CAST(sum(simpson_micro) // count(*) AS BIGINT) AS avg_simpson_micro,
           CAST(min(simpson_micro) AS BIGINT) AS min_simpson_micro,
           CAST(max(simpson_micro) AS BIGINT) AS max_simpson_micro
         FROM per GROUP BY source ORDER BY source""")),
    Query("q148_phrase_search", TextOps.q148PhraseSearch, Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         m AS (SELECT doc_id,
           CAST(len(list_filter(generate_series(1, len(toks) - 1),
             i -> toks[i] = 'fast' AND toks[i+1] = 'table')) AS BIGINT)
             AS n_matches
           FROM t WHERE len(toks) >= 2)
         SELECT doc_id, n_matches FROM m WHERE n_matches > 0
         ORDER BY n_matches DESC, doc_id""")),
    Query("q149_grouping_sets", Relational.q149GroupingSets, Some(
      """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
           COALESCE(l_linestatus, 'ALL') AS status,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_price_cents,
           count(*) AS n_rows
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                 (l_returnflag), ())
         ORDER BY flag, status""")),
    Query("q150_skyline", Relational.q150Skyline, Some(
      """WITH pts AS (SELECT
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
           min(o_orderdate) AS d
           FROM orders GROUP BY 1)
         SELECT p.price_cents, strftime(p.d, '%Y-%m-%d') AS o_date
         FROM pts p
         WHERE NOT EXISTS (SELECT 1 FROM pts q
           WHERE q.price_cents >= p.price_cents AND q.d <= p.d
             AND (q.price_cents > p.price_cents OR q.d < p.d))
         ORDER BY p.price_cents DESC""")),
    Query("q151_shard_pack", Sampling.q151ShardPack, Some(
      """WITH t AS (SELECT source, doc_id,
           len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents),
         c AS (SELECT source, doc_id, n_tokens,
           CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             - n_tokens AS start_offset FROM t)
         SELECT source, CAST(start_offset // 4096 AS BIGINT) AS shard_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM c GROUP BY 1, 2 ORDER BY source, shard_id""")),
    Query("q152_mode_per_user", EventOps.q152ModePerUser, Some(
      """WITH c AS (SELECT user_id, event_type, count(*) AS n
           FROM events GROUP BY 1, 2),
         r AS (SELECT user_id, event_type, n,
           row_number() OVER (PARTITION BY user_id
             ORDER BY n DESC, event_type) AS rn FROM c)
         SELECT user_id, event_type AS mode_type, n FROM r WHERE rn = 1
         ORDER BY user_id""")),
    Query("q153_pad_batching", Sampling.q153PadBatching, Some(
      """WITH t AS (SELECT source, doc_id,
           len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents),
         b AS (SELECT source, doc_id, n_tokens,
           (row_number() OVER (PARTITION BY source
              ORDER BY n_tokens DESC, doc_id) - 1) // 32 AS b_len,
           (row_number() OVER (PARTITION BY source
              ORDER BY doc_id) - 1) // 32 AS b_arr FROM t),
         lw AS (SELECT source, CAST(sum(w) AS BIGINT) AS bucketed_pad_tokens
           FROM (SELECT source, b_len,
                   count(*) * max(n_tokens) - sum(n_tokens) AS w
                 FROM b GROUP BY 1, 2) GROUP BY 1),
         aw AS (SELECT source, count(*) AS n_batches,
                  CAST(sum(w) AS BIGINT) AS arrival_pad_tokens
           FROM (SELECT source, b_arr,
                   count(*) * max(n_tokens) - sum(n_tokens) AS w
                 FROM b GROUP BY 1, 2) GROUP BY 1)
         SELECT aw.source, n_batches, arrival_pad_tokens, bucketed_pad_tokens
         FROM aw JOIN lw ON aw.source = lw.source ORDER BY aw.source""")),
    Query("q154_asof_tolerance", EventOps.q154AsofTolerance, Some(
      """WITH u AS (
           SELECT user_id AS k, ts AS t, NULL::BIGINT AS click_id,
                  ts AS view_ts, 0 AS is_click
           FROM events WHERE event_type = 'view'
           UNION ALL
           SELECT user_id, ts, event_id, NULL::TIMESTAMP, 1
           FROM events WHERE event_type = 'click'),
         c AS (SELECT k, t, click_id, is_click,
           last_value(view_ts IGNORE NULLS) OVER (PARTITION BY k
             ORDER BY t, is_click
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_view
           FROM u)
         SELECT click_id, k AS user_id,
           strftime(t, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
           CASE WHEN asof_view IS NOT NULL
                  AND date_diff('second', asof_view, t) <= 300
             THEN strftime(asof_view, '%Y-%m-%d %H:%M:%S.%f') END AS view_ts,
           CASE WHEN asof_view IS NOT NULL
                  AND date_diff('second', asof_view, t) <= 300
             THEN CAST(date_diff('second', asof_view, t) AS BIGINT) END AS gap_sec
         FROM c WHERE is_click = 1 ORDER BY click_id""")),
    Query("q155_syllable_stats", TextOps.q155SyllableStats, Some(
      """WITH t AS (SELECT source,
           len(regexp_extract_all(text, '[aeiou]+'))::BIGINT AS syl,
           len(string_split(text, ' '))::BIGINT AS words,
           n_chars FROM documents)
         SELECT source, count(*) AS n_docs,
           CAST(sum(syl) AS BIGINT) AS syllables,
           CAST(sum(words) AS BIGINT) AS words,
           CAST((1000000 * sum(syl)) // sum(words) AS BIGINT)
             AS syl_per_word_micro,
           CAST((1000000 * sum(n_chars)) // sum(words) AS BIGINT)
             AS chars_per_word_micro
         FROM t GROUP BY source ORDER BY source""")),
    Query("q156_stream_late_data", StreamQueries.q156StreamLateData, Some(
      """WITH wm AS (SELECT max(ts) - INTERVAL 24 HOUR AS w
           FROM events WHERE event_id % 20 <> 0),
         kept AS (SELECT ts, event_type FROM events, wm
           WHERE event_id % 20 <> 0
              OR date_trunc('hour', ts) + INTERVAL 1 HOUR > wm.w)
         SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour,
                event_type, count(*) AS n_events
         FROM kept GROUP BY 1, 2 ORDER BY hour, event_type"""), streaming = true),
    Query("q157_khop_bfs", ((s, d) => GraphOps.q157KHopBfs(s, d)), Some(GraphOps.q157OracleSql)),
    Query("q158_window_suite", Relational.q158WindowSuite, Some(
      """SELECT o_custkey, o_orderkey,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           CAST(floor(cume_dist() OVER w * 1000000.0 + 0.5) AS BIGINT)
             AS cume_micro,
           CAST(date_diff('day',
             lag(o_orderdate, 1) OVER w, o_orderdate) AS BIGINT)
             AS days_since_prev
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey""")),
    Query("q159_cdc_merge", Relational.q159CdcMerge, Some(
      """WITH snap AS (SELECT o_orderkey AS k, o_orderstatus AS status,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
           'KEEP' AS op, 1 AS version FROM orders),
         base AS (SELECT o_orderkey AS k,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
           FROM orders),
         chg AS (
           SELECT k, 'CHG' AS status, 0 AS price_cents, 'D' AS op, 2 AS version
           FROM base WHERE k % 13 = 0
           UNION ALL
           SELECT k, 'CHG', price_cents + 555, 'U', 2
           FROM base WHERE k % 13 <> 0 AND k % 7 = 0
           UNION ALL
           SELECT k + 1000000000, 'NEW', price_cents, 'I', 2
           FROM base WHERE k % 17 = 0),
         u AS (SELECT * FROM snap UNION ALL SELECT * FROM chg),
         r AS (SELECT k, status, price_cents, op, version,
           row_number() OVER (PARTITION BY k ORDER BY version DESC, op) AS rn
           FROM u)
         SELECT k, status, CAST(price_cents AS BIGINT) AS price_cents,
                CAST(version AS BIGINT) AS version
         FROM r WHERE rn = 1 AND op <> 'D' ORDER BY k""")),
    Query("q160_top_dims", Similarity.q160TopDims, Some(
      """WITH x AS (SELECT vec_id, unnest(embedding) AS v,
           generate_subscripts(embedding, 1) - 1 AS dim FROM embeddings),
         r AS (SELECT vec_id, dim, v::DOUBLE AS v,
           row_number() OVER (PARTITION BY vec_id
             ORDER BY abs(v::DOUBLE) DESC, dim) AS rank FROM x)
         SELECT vec_id, CAST(rank AS BIGINT) AS rank,
           CAST(dim AS BIGINT) AS dim,
           CAST(floor(v * 1000000 + 0.5) AS BIGINT) AS val_micro
         FROM r WHERE rank <= 3 ORDER BY vec_id, rank""")),
    Query("q161_decay_score", EventOps.q161DecayScore, Some(
      """WITH a AS (SELECT max(ts) AS now FROM events),
         w AS (SELECT user_id,
           1000000 // (1 + date_diff('day', ts, a.now)) AS w
           FROM events, a)
         SELECT user_id, count(*) AS n_events,
           CAST(sum(w) AS BIGINT) AS decay_score
         FROM w GROUP BY user_id
         ORDER BY decay_score DESC, user_id""")),
    Query("q162_streaks", EventOps.q162Streaks, Some(
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
         r AS (SELECT user_id, d,
           d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                    AS INTEGER) AS anchor FROM d),
         s AS (SELECT user_id, anchor, count(*) AS len FROM r GROUP BY 1, 2)
         SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
                CAST(max(len) AS BIGINT) AS longest_streak
         FROM s GROUP BY user_id ORDER BY user_id""")),
    Query("q163_dim_deciles", Similarity.q163DimDeciles, Some(
      """WITH x AS (SELECT vec_id, unnest(embedding) AS v,
           generate_subscripts(embedding, 1) - 1 AS dim FROM embeddings),
         t AS (SELECT CAST(dim AS BIGINT) AS dim, vec_id, v::DOUBLE AS v,
           ntile(10) OVER (PARTITION BY dim
             ORDER BY v::DOUBLE, vec_id) AS decile FROM x)
         SELECT dim, CAST(decile AS BIGINT) AS decile, count(*) AS n,
           CAST(floor(min(v) * 1000000 + 0.5) AS BIGINT) AS lo_micro,
           CAST(floor(max(v) * 1000000 + 0.5) AS BIGINT) AS hi_micro
         FROM t GROUP BY 1, 2 ORDER BY dim, decile""")),
    Query("q164_bow_dedup", Dedup.q164BowDedup, Some(
      """WITH b AS (SELECT doc_id,
           md5(array_to_string(list_sort(string_split(text, ' ')), ' '))
             AS bow_hash FROM documents),
         g AS (SELECT doc_id, bow_hash,
           count(*) OVER (PARTITION BY bow_hash) AS group_size,
           min(doc_id) OVER (PARTITION BY bow_hash) AS canonical_id FROM b)
         SELECT doc_id, bow_hash, CAST(group_size AS BIGINT) AS group_size,
           canonical_id,
           CAST(CASE WHEN doc_id <> canonical_id THEN 1 ELSE 0 END AS BIGINT)
             AS is_dup
         FROM g WHERE group_size >= 2 ORDER BY doc_id""")),
    Query("q165_fk_audit", Relational.q165FkAudit, Some(
      """WITH e1 AS (SELECT 'lineitem.l_orderkey->orders' AS fk,
             count(*) AS n_rows,
             sum(CASE WHEN l.l_orderkey IS NULL THEN 1 ELSE 0 END) AS n_null_keys,
             sum(CASE WHEN l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL
                 THEN 1 ELSE 0 END) AS n_orphans
           FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
             ON l.l_orderkey = o.o_orderkey),
         e2 AS (SELECT 'lineitem.l_partkey->part', count(*),
             sum(CASE WHEN l.l_partkey IS NULL THEN 1 ELSE 0 END),
             sum(CASE WHEN l.l_partkey IS NOT NULL AND p.p_partkey IS NULL
                 THEN 1 ELSE 0 END)
           FROM lineitem l LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
             ON l.l_partkey = p.p_partkey),
         e3 AS (SELECT 'lineitem.l_suppkey->supplier', count(*),
             sum(CASE WHEN l.l_suppkey IS NULL THEN 1 ELSE 0 END),
             sum(CASE WHEN l.l_suppkey IS NOT NULL AND su.s_suppkey IS NULL
                 THEN 1 ELSE 0 END)
           FROM lineitem l LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) su
             ON l.l_suppkey = su.s_suppkey),
         e4 AS (SELECT 'orders.o_custkey->customer', count(*),
             sum(CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END),
             sum(CASE WHEN o.o_custkey IS NOT NULL AND c.c_custkey IS NULL
                 THEN 1 ELSE 0 END)
           FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
             ON o.o_custkey = c.c_custkey),
         e5 AS (SELECT 'customer.c_nationkey->nation', count(*),
             sum(CASE WHEN c.c_nationkey IS NULL THEN 1 ELSE 0 END),
             sum(CASE WHEN c.c_nationkey IS NOT NULL AND n.n_nationkey IS NULL
                 THEN 1 ELSE 0 END)
           FROM customer c LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
             ON c.c_nationkey = n.n_nationkey),
         e6 AS (SELECT 'supplier.s_nationkey->nation', count(*),
             sum(CASE WHEN su.s_nationkey IS NULL THEN 1 ELSE 0 END),
             sum(CASE WHEN su.s_nationkey IS NOT NULL AND n.n_nationkey IS NULL
                 THEN 1 ELSE 0 END)
           FROM supplier su LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
             ON su.s_nationkey = n.n_nationkey),
         e7 AS (SELECT 'nation.n_regionkey->region', count(*),
             sum(CASE WHEN na.n_regionkey IS NULL THEN 1 ELSE 0 END),
             sum(CASE WHEN na.n_regionkey IS NOT NULL AND r.r_regionkey IS NULL
                 THEN 1 ELSE 0 END)
           FROM nation na LEFT JOIN (SELECT DISTINCT r_regionkey FROM region) r
             ON na.n_regionkey = r.r_regionkey),
         u AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2
           UNION ALL SELECT * FROM e3 UNION ALL SELECT * FROM e4
           UNION ALL SELECT * FROM e5 UNION ALL SELECT * FROM e6
           UNION ALL SELECT * FROM e7)
         SELECT fk, n_rows, CAST(n_null_keys AS BIGINT) AS n_null_keys,
                CAST(n_orphans AS BIGINT) AS n_orphans
         FROM u ORDER BY fk""")),
    Query("q166_chisq", TextOps.q166ChiSquare, Some(
      """WITH cells AS (SELECT lang, source, count(*) AS n
           FROM documents GROUP BY 1, 2),
         w AS (SELECT lang, source, n,
           sum(n) OVER (PARTITION BY lang) AS rt,
           sum(n) OVER (PARTITION BY source) AS ct,
           sum(n) OVER () AS tot FROM cells),
         h AS (SELECT lang, source, n, tot,
           CAST(n AS HUGEINT) * tot - CAST(rt AS HUGEINT) * ct AS diff,
           CAST(tot AS HUGEINT) * rt * ct AS denom,
           CAST(rt AS HUGEINT) * ct AS rc FROM w),
         q AS (SELECT *, (diff * diff) // denom AS qq FROM h)
         SELECT lang, source, n,
           CAST((rc * 1000000) // tot AS BIGINT) AS expected_micro,
           CAST(qq * 1000000
                + ((diff * diff - qq * denom) * 1000000) // denom
                AS BIGINT) AS chi2_micro
         FROM q ORDER BY lang, source""")),
    Query("q167_transitions", EventOps.q167Transitions, Some(
      """WITH t AS (SELECT user_id, event_type AS from_type,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS to_type FROM events),
         c AS (SELECT from_type, to_type, count(*) AS n FROM t
           WHERE to_type IS NOT NULL GROUP BY 1, 2)
         SELECT from_type, to_type, n,
           CAST(floor(n * 1000000 / sum(n) OVER (PARTITION BY from_type))
                AS BIGINT) AS prob_micro
         FROM c ORDER BY from_type, to_type""")),
    // rows-only by design: bloom probes have false positives, so no
    // cross-engine hash oracle; DedupSpec pins no-false-negatives vs
    // exact q70 and a near-zero measured FPR at the default sizing
    Query("q168_bloom_decontaminate", Dedup.q168BloomDecontaminate, None),
    // generated: replays the integer scatter matrix + 8 trunc-division
    // power-iteration rounds (see Similarity.q169OracleSql scaladoc)
    Query("q169_pca_power", Similarity.q169PcaPower, Some(Similarity.q169OracleSql)),
    Query("q170_bpe_pairs", TextOps.q170BpePairs, Some(
      """WITH words AS (SELECT unnest(string_split(text, ' ')) AS w
           FROM documents),
         pr AS (SELECT substr(w, t.i, 2) AS pair
           FROM words,
                LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) t
           WHERE len(w) >= 2)
         SELECT pair, COUNT(*) AS n FROM pr
         GROUP BY pair ORDER BY n DESC, pair LIMIT 20""")),
    Query("q171_curriculum_order", Sampling.q171CurriculumOrder, Some(
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
           FROM documents),
         sc AS (SELECT doc_id, source,
           (CAST(len(list_distinct(toks)) AS BIGINT) * 1000000)
             // CAST(len(toks) AS BIGINT) AS score_micro FROM t),
         r AS (SELECT doc_id, source, score_micro,
           CAST(row_number() OVER (PARTITION BY source
             ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rn FROM sc),
         si AS (SELECT source,
           CAST(row_number() OVER (ORDER BY source) AS BIGINT) AS src_idx
           FROM (SELECT DISTINCT source FROM documents)),
         ns AS (SELECT COUNT(*)::BIGINT AS s FROM si)
         SELECT r.doc_id, r.source, r.score_micro, r.rn,
           (r.rn - 1) * ns.s + si.src_idx AS global_pos
         FROM r JOIN si USING (source) CROSS JOIN ns
         ORDER BY global_pos""")),
    Query("q172_user_gini", EventOps.q172UserGini, Some(
      """WITH c AS (SELECT user_id, count(*)::BIGINT AS c
           FROM events GROUP BY user_id),
         r AS (SELECT c,
           row_number() OVER (ORDER BY c, user_id)::BIGINT AS rn FROM c)
         SELECT count(*)::BIGINT AS n_users,
           sum(c)::BIGINT AS total_events,
           CAST((2::HUGEINT * sum(rn::HUGEINT * c::HUGEINT)
                 - (count(*)::HUGEINT + 1) * sum(c)::HUGEINT) * 1000000
                // (count(*)::HUGEINT * sum(c)::HUGEINT) AS BIGINT)
             AS gini_micro
         FROM r""")),
    Query("q173_hapax_richness", TextOps.q173HapaxRichness, Some(
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS token
           FROM documents),
         c AS (SELECT source, token, count(*)::BIGINT AS c
           FROM t GROUP BY source, token)
         SELECT source, sum(c)::BIGINT AS n_tokens,
           count(*)::BIGINT AS n_types,
           sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
           (count(*)::BIGINT * 1000000 // sum(c)::BIGINT) AS ttr_micro,
           (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT * 1000000
              // count(*)::BIGINT) AS hapax_micro
         FROM c GROUP BY source ORDER BY source""")),
    Query("q174_kcenter_coreset", Similarity.q174KCenterCoreset, Some(Similarity.q174OracleSql)),
    Query("q175_stream_lifetime", StreamQueries.q175StreamLifetime, Some(
      """SELECT user_id, count(*)::BIGINT AS n_events,
           sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))::BIGINT
             AS total_micro,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_seen
         FROM events GROUP BY user_id ORDER BY user_id"""), streaming = true),
    Query("q176_dup_spans", Dedup.q176DupSpans, Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents),
         g AS (SELECT doc_id, CASE WHEN len(toks) >= 8 THEN
                 list_transform(generate_series(1, len(toks) - 7),
                   i -> array_to_string(toks[i:i+7], ' '))
               ELSE [] END AS grams FROM t),
         p AS (SELECT doc_id, unnest(grams) AS span FROM g),
         pg AS (SELECT span, doc_id, count(*) AS c FROM p GROUP BY 1, 2),
         a AS (SELECT span, sum(c)::BIGINT AS n_occurrences,
                 count(*)::BIGINT AS n_docs,
                 min(doc_id)::BIGINT AS first_doc
               FROM pg GROUP BY 1)
         SELECT span, n_occurrences, n_docs, first_doc FROM a
         WHERE n_docs >= 2
         ORDER BY n_occurrences DESC, span LIMIT 20""")),
    Query("q177_mix_allocation", Sampling.q177MixAllocation, Some(
      """WITH RECURSIVE
         a AS (SELECT source,
             sum(len(string_split(text, ' ')))::BIGINT AS avail_tokens
           FROM documents GROUP BY source),
         t AS (SELECT ((sum(avail_tokens)) // 2)::BIGINT AS budget,
                      count(*)::BIGINT AS n FROM a),
         lv(level) AS (
           SELECT (budget // n)::BIGINT FROM t
           UNION ALL
           SELECT x.next FROM (
             SELECT CASE WHEN t.n - (SELECT count(*) FROM a
                                     WHERE avail_tokens < l.level) > 0
               THEN ((t.budget - (SELECT coalesce(sum(avail_tokens), 0)
                                  FROM a WHERE avail_tokens < l.level))
                     // (t.n - (SELECT count(*) FROM a
                                WHERE avail_tokens < l.level)))::BIGINT
               ELSE l.level END AS next, l.level AS level
             FROM lv l, t) x
           WHERE x.next <> x.level),
         f AS (SELECT max(level)::BIGINT AS level FROM lv)
         SELECT source, avail_tokens,
           (SELECT (budget // n)::BIGINT FROM t) AS base_alloc,
           (CASE WHEN avail_tokens < f.level THEN 1 ELSE 0 END)::BIGINT
             AS capped,
           least(avail_tokens, f.level)::BIGINT AS final_alloc
         FROM a, f ORDER BY source""")),
    Query("q178_max_spans", Dedup.q178MaxSpans, Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents),
         g AS (SELECT doc_id, CASE WHEN len(toks) >= 8 THEN
                 list_transform(generate_series(1, len(toks) - 7),
                   i -> md5(array_to_string(toks[i:i+7], ' ')))
               ELSE [] END AS grams FROM t),
         p AS (SELECT doc_id, unnest(grams) AS h,
                      unnest(generate_series(1, len(grams))) AS pos FROM g),
         dup AS (SELECT h FROM (SELECT h, doc_id FROM p GROUP BY 1, 2)
                 GROUP BY h HAVING count(*) >= 2),
         d AS (SELECT p.doc_id, p.pos FROM p JOIN dup USING (h)),
         i AS (SELECT doc_id, pos,
                 pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS isl
               FROM d)
         SELECT doc_id, min(pos)::BIGINT AS start_pos,
           max(pos)::BIGINT AS end_pos, count(*)::BIGINT AS n_windows,
           (max(pos) - min(pos) + 8)::BIGINT AS span_tokens
         FROM i GROUP BY doc_id, isl ORDER BY doc_id, start_pos""")),
    Query("q179_cms_heavy_hitters", TextOps.q179CmsHeavyHitters, Some(TextOps.q179OracleSql)),
    Query("q180_peak_concurrency", EventOps.q180PeakConcurrency, Some(EventOps.q180OracleSql)),
    Query("q181_hybrid_rrf", Similarity.q181HybridRrf, Some(Similarity.q181OracleSql)),
    Query("q182_curated_mix", Sampling.q182CuratedMix, Some(Sampling.q182OracleSql)),
    Query("q183_position_attribution", EventOps.q183PositionAttribution,
      Some(EventOps.q183OracleSql)),
    Query("q184_minhash_jaccard", Dedup.q184MinhashJaccard, Some(Dedup.q184OracleSql)),
    Query("q185_simhash_pairs", ((s, d) => Dedup.q185SimhashPairs(s, d)),
      Some(Dedup.q185OracleSql)),
    Query("q186_linear_count", Relational.q186LinearCountDistinct, Some(Relational.q186OracleSql)),
    Query("q187_kmv_quantiles", Relational.q187SampledQuantiles, Some(Relational.q187OracleSql)),
    Query("q188_bpe_merges", ((s, d) => TextOps.q188BpeMerges(s, d)), Some(TextOps.q188OracleSql)),
    Query("q189_mmr_rerank", Similarity.q189MmrRerank, Some(Similarity.q189OracleSql)),
    Query("q190_margin_mining", Similarity.q190MarginMining, Some(Similarity.q190OracleSql)),
    Query("q191_bpe_encode", ((s, d) => TextOps.q191BpeEncode(s, d)), Some(TextOps.q191OracleSql)),
    Query("q192_dsir_weights", Sampling.q192DsirWeights, Some(Sampling.q192OracleSql)),
    Query("q193_retrieval_auc", Inference.q193RetrievalAuc, Some(Inference.q193OracleSql)),
    Query("q194_calibration_bins", Inference.q194CalibrationBins, Some(Inference.q194OracleSql)),
    Query("q195_contrastive_pairs", Similarity.q195ContrastivePairs,
      Some(Similarity.q195OracleSql)),
    Query("q196_classification_report", Inference.q196ClassificationReport,
      Some(Inference.q196OracleSql)),
    Query("q197_variant_extract", EventOps.q197VariantExtract, Some(EventOps.q197OracleSql)),
    Query("q198_lexicon_sentiment", TextOps.q198LexiconSentiment, Some(TextOps.q198OracleSql)),
    Query("q199_sketch_rollup", Relational.q199SketchRollup, Some(Relational.q199OracleSql)),
    Query("q200_market_basket", Relational.q200MarketBasket, Some(Relational.q200OracleSql)),
    Query("q201_winnowing", Dedup.q201Winnowing, Some(Dedup.q201OracleSql)),
    Query("q202_winnow_pairs", Dedup.q202WinnowPairs, Some(Dedup.q202OracleSql)),
    Query("q203_matryoshka_recall", ((s, d) => Similarity.q203MatryoshkaRecall(s, d)),
      Some(Similarity.q203OracleSql)),
    Query("q204_rake_keywords", TextOps.q204RakeKeywords, Some(TextOps.q204OracleSql)),
    Query("q205_ewma_forecast", EventOps.q205EwmaForecast, Some(EventOps.q205OracleSql)),
    Query("q206_skipgram_cooc", TextOps.q206SkipgramCooc, Some(TextOps.q206OracleSql)),
    Query("q207_novelty_curve", Dedup.q207NoveltyCurve, Some(Dedup.q207OracleSql)),
    Query("q208_frame_phash", Multimodal.q208FramePhash, Some(Multimodal.q208OracleSql)),
    Query("q209_hits", ((s, d) => GraphOps.q209Hits(s, d)), Some(GraphOps.q209OracleSql)),
    Query("q210_cell_caps", Sampling.q210CellCaps, Some(Sampling.q210OracleSql)),
    Query("q211_seq_patterns", ((s, d) => EventOps.q211SeqPatterns(s, d)),
      Some(EventOps.q211OracleSql)),
    Query("q212_colbert_maxsim", Similarity.q212ColbertMaxsim, Some(Similarity.q212OracleSql)),
    Query("q213_kmv_set_ops", Relational.q213KmvSetOps, Some(Relational.q213OracleSql)),
    Query("q214_hll_registers", Relational.q214HllRegisters, Some(Relational.q214OracleSql)),
    Query("q215_kcore", ((s, d) => GraphOps.q215KCore(s, d)), Some(GraphOps.q215OracleSql)),
    Query("q216_containment", ((s, d) => Dedup.q216Containment(s, d)), Some(Dedup.q216OracleSql)),
    Query("q217_ndcg_eval", Similarity.q217NdcgEval, Some(Similarity.q217OracleSql)),
    Query("q218_stream_top_users", StreamQueries.q218StreamTopUsers, Some(
      """WITH c AS (SELECT event_type, user_id, count(*)::BIGINT AS n
           FROM events GROUP BY event_type, user_id),
         r AS (SELECT event_type, user_id, n,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY n DESC, user_id) AS rk FROM c)
         SELECT event_type, rk::BIGINT AS rk, user_id, n
         FROM r WHERE rk <= 3 ORDER BY event_type, rk"""), streaming = true),
    Query("q219_markov_eval", EventOps.q219MarkovEval, Some(EventOps.q219OracleSql)),
    Query("q220_keyframes", Multimodal.q220Keyframes, Some(Multimodal.q220OracleSql)),
    Query("q221_kanon_audit", TextOps.q221KAnonAudit, Some(TextOps.q221OracleSql)),
    Query("q222_rand_stability", GraphOps.q222RandStability, Some(GraphOps.q222OracleSql)),
    Query("q223_lsh_recall", Dedup.q223LshRecall, Some(Dedup.q223OracleSql)),
    Query("q224_cms_width_sweep", TextOps.q224CmsWidthSweep, Some(TextOps.q224OracleSql)),
    Query("q225_fuzzy_parts", Dedup.q225FuzzyParts, Some(Dedup.q225OracleSql)),
    // q226: q52's exact gap semantics — session_window MERGES an
    // event landing exactly at last+gap (sessions combine when
    // start_B <= end_A, inclusive; MemoryStream-verified in
    // EventStreamsSpec), so the oracle splits only on strict >
    Query("q226_stream_session_window", StreamQueries.q226StreamSessionWindow,
      Some(sessionizeSql), streaming = true),
    Query("q227_assortativity", GraphOps.q227Assortativity, Some(GraphOps.q227OracleSql)),
    Query("q228_bloom_replay", Dedup.q228BloomReplay, Some(Dedup.q228OracleSql)),
    Query("q229_dsir_weights", Sampling.q229DsirWeights, Some(Sampling.q229OracleSql)),
    Query("q230_modularity", GraphOps.q230Modularity, Some(GraphOps.q230OracleSql)),
    Query("q231_stream_window_hll", StreamQueries.q231StreamWindowHll,
      Some(StreamQueries.q231OracleSql), streaming = true),
    Query("q232_salted_skew_join", SkewJoin.q232SaltedSkewJoin, Some(SkewJoin.q232OracleSql)),
    Query("q233_ingest_dedup", Dedup.q233IngestDedup, Some(Dedup.q233OracleSql)),
    Query("q234_markov_attribution", EventOps.q234MarkovAttribution, Some(EventOps.q234OracleSql)),
    Query("q235_shapley_attribution", EventOps.q235ShapleyAttribution,
      Some(EventOps.q235OracleSql)),
    Query("q236_stream_dedup_ttl", StreamQueries.q236StreamDedupTtl,
      Some(StreamQueries.q236OracleSql), streaming = true),
    Query("q237_km_survival", EventOps.q237KmSurvival, Some(EventOps.q237OracleSql)),
    Query("q238_cusum_shift", EventOps.q238CusumShift, Some(EventOps.q238OracleSql)),
    Query("q239_stream_full_outer", StreamQueries.q239StreamJoinFullOuter,
      Some(StreamQueries.q239OracleSql), streaming = true),
    Query("q240_holt_trend", EventOps.q240HoltTrend, Some(EventOps.q240OracleSql)),
    Query("q241_textrank", ((s, d) => TextOps.q241TextRank(s, d)), Some(TextOps.q241OracleSql)),
    Query("q242_jsonl_quarantine", Sources.q242JsonlQuarantine, Some(Sources.q242OracleSql)),
    Query("q243_poisson_bootstrap", Inference.q243PoissonBootstrap, Some(Inference.q243OracleSql)),
    Query("q244_ks_drift", EventOps.q244KsDrift, Some(EventOps.q244OracleSql)),
    Query("q245_ingest_ann", Similarity.q245IngestAnn, Some(Similarity.q245OracleSql)),
    Query("q246_frame_dhash", Multimodal.q246FrameDhash, Some(Multimodal.q246OracleSql)),
    Query("q247_record_linkage", ((s, d) => Linkage.q247RecordLinkage(s, d)),
      Some(Linkage.q247OracleSql)),
    Query("q248_image_dhash", Multimodal.q248ImageDhash, Some(Multimodal.q248OracleSql)),
    Query("q249_link_predict", ((s, d) => GraphOps.q249LinkPredict(s, d)),
      Some(GraphOps.q249OracleSql)),
    Query("q250_silhouette", Similarity.q250Silhouette, Some(Similarity.q250OracleSql)),
    Query("q251_item_cf", GraphOps.q251ItemCf, Some(GraphOps.q251OracleSql)),
  )

  /** Each query's builder by name. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(q => q.name -> q.build).toMap

  /** Each oracle-gated query's DuckDB SQL by name. */
  def oracleSql: Map[String, String] = catalog.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** The catalog queries named by a comma-separated token in `only`
    * (every query when None) and by none in `skip`. A token ending in a
    * digit is one query number (`q24`, not q240–q249); others are name
    * prefixes. */
  def select(only: Option[String], skip: Option[String]): Seq[Query] = {
    def tokens(list: Option[String]) = list.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    def names(name: String)(t: String) =
      if (t.last.isDigit) name == t || name.startsWith(t + "_") else name.startsWith(t)
    val (in, out) = (tokens(only), tokens(skip).getOrElse(Nil))
    catalog.filter(q => in.forall(_.exists(names(q.name))) && !out.exists(names(q.name)))
  }
}
