package graft.queries

import org.apache.spark.sql.functions._
import Tables._

/** Scalar-function library coverage (SURVEY.md §2.4 "scalar function
  * library — absent in reference, Spark built-in"): string, date, math,
  * conditional, array, and JSON functions, each oracle-checked against
  * DuckDB equivalents. All codegen'd expressions — no UDFs.
  */
object FunctionQueries {

  val queries: Map[String, Q] = Map(
    "q_string_funcs" -> ((s, dir) => {
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("upper_name"),
          lower(col("p_brand")).as("lower_brand"),
          length(col("p_name")).cast("long").as("name_len"),
          substring(col("p_name"), 1, 5).as("name_prefix"),
          trim(col("p_type")).as("type_trim"),
          concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
          regexp_replace(col("p_name"), "[aeiou]", "_").as("name_novowels"),
          lpad(col("p_brand"), 12, "0").as("brand_padded"),
          instr(col("p_name"), "a").cast("long").as("first_a"),
          reverse(col("p_brand")).as("brand_rev")
        )
        .orderBy(col("p_partkey"))
    }),

    "q_string_funcs2" -> ((s, dir) => {
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          regexp_extract(col("p_type"), "([A-Za-z]+)", 1).as("first_word"),
          translate(col("p_brand"), "#", "-").as("brand_dashed"),
          expr("split_part(p_type, ' ', 1)").as("type_head"),
          expr("left(p_name, 4)").as("name_left"),
          expr("right(p_name, 3)").as("name_right"),
          repeat(col("p_brand"), 2).as("brand_twice"),
          col("p_name").startsWith("a").as("starts_a"),
          col("p_name").contains("green").as("has_green_str"))
        .orderBy(col("p_partkey"))
    }),

    "q_date_funcs" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          to_date(col("o_orderdate")).as("order_date"),
          year(col("o_orderdate")).cast("long").as("order_year"),
          month(col("o_orderdate")).cast("long").as("order_month"),
          dayofmonth(col("o_orderdate")).cast("long").as("order_day"),
          to_date(date_trunc("month", col("o_orderdate"))).as("month_start"),
          date_add(to_date(col("o_orderdate")), 30).as("due_date"),
          last_day(col("o_orderdate")).as("month_end"),
          datediff(to_date(col("o_orderdate")), to_date(lit("1995-01-01"))).cast("long").as("days_since_95")
        )
        .orderBy(col("o_orderkey"))
    }),

    "q_math_funcs" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(
          col("l_orderkey"),
          col("l_linenumber"),
          abs(col("l_discount") - 0.05).as("abs_disc"),
          round(col("l_extendedprice"), 0).as("price_round"),
          floor(col("l_extendedprice")).cast("long").as("price_floor"),
          ceil(col("l_extendedprice")).cast("long").as("price_ceil"),
          round(sqrt(col("l_quantity")), 6).as("qty_sqrt"),
          round(log(col("l_extendedprice")), 6).as("price_ln"),
          round(log10(col("l_extendedprice")), 6).as("price_log10"),
          round(pow(col("l_quantity"), 2), 2).as("qty_sq"),
          (col("l_orderkey") % 7).as("key_mod"),
          greatest(col("l_quantity"), col("l_discount") * 100).as("g"),
          least(col("l_tax"), col("l_discount")).as("l")
        )
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("price_floor"), col("qty_sqrt"), col("abs_disc"))
    }),

    "q_conditional_funcs" -> ((s, dir) => {
      t(s, dir, "customer")
        .select(
          col("c_custkey"),
          when(col("c_acctbal") < 0, "overdrawn")
            .when(col("c_acctbal") < 1000, "low")
            .when(col("c_acctbal") < 5000, "mid")
            .otherwise("high").as("balance_band"),
          coalesce(nullif(col("c_mktsegment"), lit("MACHINERY")), lit("OTHER")).as("segment_masked"),
          (col("c_nationkey") % 2 === 0).as("even_nation")
        )
        .orderBy(col("c_custkey"))
    }),

    "q_array_funcs" -> ((s, dir) => {
      val toks = split(col("p_name"), " ")
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          size(toks).cast("long").as("n_tokens"),
          element_at(toks, 1).as("first_token"),
          array_join(array_sort(toks), "-").as("sorted_joined"),
          array_contains(toks, "green").as("has_green"),
          // sorted: DuckDB's list_distinct does not preserve first-occurrence order
          array_join(array_sort(array_distinct(toks)), ",").as("distinct_tokens"),
          array_join(slice(toks, 1, 2), " ").as("first_two")
        )
        .orderBy(col("p_partkey"))
    }),

    // higher-order array functions (transform/filter/exists/forall/
    // aggregate/zip_with) — interpreted HOFs, fine for coverage queries
    // (hot paths use the fused expressions instead)
    "q_array_hof" -> ((s, dir) => {
      val toks = split(col("p_name"), " ")
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          aggregate(toks, lit(0), (acc, t) => acc + length(t)).cast("long").as("total_chars"),
          size(filter(toks, t => length(t) > 4)).cast("long").as("n_long"),
          exists(toks, t => t === "green").as("has_green"),
          forall(toks, t => length(t) >= 3).as("all_ge3"),
          array_join(zip_with(toks, reverse(toks), (a, b) => concat(a, lit("|"), b)), ",").as("zipped"))
        .orderBy(col("p_partkey"))
    }),

    // map-valued computation: construction, transform_values, map_filter,
    // map_concat, key listing (oracle computes the equivalent scalars)
    "q_map_ops" -> ((s, dir) => {
      val m = map(lit("qty"), col("l_quantity"), lit("disc"), col("l_discount"))
      t(s, dir, "lineitem")
        .where(col("l_orderkey") < 50)
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
          array_join(map_keys(m), ",").as("keys"),
          element_at(transform_values(m, (_, v) => v * 2), "qty").as("qty2"),
          size(map_filter(m, (_, v) => v > 0.05)).cast("long").as("n_big"),
          element_at(map_concat(m, map(lit("one"), lit(1.0))), "one").as("one"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"), col("qty2"))
    }),

    // UDTF/generator analog: explode (reference has none; SURVEY §2.4)
    "q_explode" -> ((s, dir) => {
      t(s, dir, "part")
        .select(explode(split(col("p_name"), " ")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("token"))
    }),

    "q_json_funcs" -> ((s, dir) => {
      t(s, dir, "events")
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k_value")
        )
        .orderBy(col("event_id"))
    }),

    "q_json_agg" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }),

    // custom typed aggregate surface (reference has none). Since r19 the
    // query path runs the unboxed TypedImperativeAggregate (GeoMeanAgg);
    // the Aggregator[IN,BUF,OUT] form (GeoMean) stays spec-covered as the
    // reference implementation — same buffer, same finish semantics
    "q_udaf_geomean" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(graft.functions.GeoMeanAgg.geoMean(col("l_extendedprice")), 4).as("geomean_price"))
        .orderBy(col("l_returnflag"))
    }),

    // approximate distinct — weaker rows-only check (no exact oracle)
    // HLL estimate vs exact — the estimate itself differs between
    // engines' HLL implementations, so the ORACLE-CHECKED contract is
    // (exact count, estimate-within-5%): DuckDB reproduces the exact
    // count and the tolerance verdict must be true
    "q_approx_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .agg(
          approx_count_distinct(col("l_partkey")).as("__approx"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(
          col("exact_parts"),
          // an empty table: both counts are 0, which is within any bound
          when(col("exact_parts") === 0, col("__approx") === 0)
            .otherwise(abs(col("__approx") - col("exact_parts")).cast("double")
              / col("exact_parts") < 0.05).as("approx_within_5pct"))
    }),

    // batch twin of the streaming sliding-window aggregation (1h window,
    // 30m slide: every event lands in two windows)
    "q_sliding_window_batch" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n_events"))
        .orderBy(col("window_start"), col("event_type"))
    }),

    // batch twin of the streaming tumbling-window aggregation
    "q_stream_window_batch" -> ((s, dir) => {
      graft.streaming.EventStreams
        .tumblingCounts(t(s, dir, "events"))
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy(col("window_start"), col("event_type"))
    }),

    // URL parsing: Spark's parse_url against a regexp oracle (URLs
    // synthesized from document columns — well-formed by construction)
    "q_url_funcs" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("url",
          concat(lit("https://"), col("source"), lit(".example.com/docs/"),
            col("doc_id"), lit("?lang="), col("lang"), lit("&sz="), col("n_chars")))
        .select(
          col("doc_id"),
          parse_url(col("url"), lit("HOST")).as("host"),
          parse_url(col("url"), lit("PATH")).as("path"),
          parse_url(col("url"), lit("QUERY"), lit("lang")).as("lang_param"),
          parse_url(col("url"), lit("PROTOCOL")).as("protocol"))
        .orderBy(col("doc_id"))
    }),

    // timestamp arithmetic over the events table (micros precision)
    "q_timestamp_funcs" -> ((s, dir) => {
      t(s, dir, "events")
        .select(
          col("event_id"),
          hour(col("ts")).cast("long").as("ts_hour"),
          minute(col("ts")).cast("long").as("ts_minute"),
          unix_timestamp(col("ts")).as("epoch_s"),
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
          date_format(col("ts") + expr("INTERVAL 90 MINUTES"), "yyyy-MM-dd HH:mm:ss").as("ts_plus_90m"))
        .orderBy(col("event_id"))
    }),

    // edit distance over all name pairs (fuzzy-match primitive; the
    // quadratic pair space is fine for dimension-sized tables — for
    // corpus-scale fuzzy dedup use the MinHash/SimHash operators)
    "q_levenshtein" -> ((s, dir) => {
      val n = t(s, dir, "nation").select(col("n_name"))
      val a = n.select(col("n_name").as("name_a"))
      val b = n.select(col("n_name").as("name_b"))
      a.crossJoin(b)
        .where(col("name_a") < col("name_b"))
        .select(col("name_a"), col("name_b"),
          levenshtein(col("name_a"), col("name_b")).cast("long").as("edit_dist"))
        .orderBy(col("name_a"), col("name_b"))
    }),

    // predicate aggregates + ordered string agg (count_if / bool_and /
    // bool_or / sorted-set concat)
    "q_agg_funcs" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          count_if(col("o_totalprice") > 100000).as("n_big"),
          bool_and(col("o_totalprice") > lit(0)).as("all_pos"),
          bool_or(col("o_orderstatus") === "P").as("any_p"),
          concat_ws(",", array_sort(collect_set(col("o_orderstatus")))).as("statuses"))
        .orderBy(col("o_orderpriority"))
    }),

    // regexp surface: extract / extract-all / count / match flag
    // (no-match results normalized to NULL on both engines via nullif)
    "q_regexp_funcs" -> ((s, dir) => {
      val txt = lower(col("text"))
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          nullif(regexp_extract(txt, "\\b(th[a-z]+)\\b", 1), lit("")).as("first_th"),
          nullif(concat_ws(",", regexp_extract_all(txt, lit("\\b(th[a-z]+)\\b"), lit(1))), lit("")).as("all_th"),
          regexp_count(txt, lit("\\bthe\\b")).cast("long").as("n_the"),
          txt.rlike("[0-9]").as("has_digit"))
        .orderBy(col("doc_id"))
    }),

    // bitwise operators
    "q_bitwise" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          shiftleft(col("o_orderkey"), 3).as("shl3"),
          shiftright(col("o_orderkey"), 2).as("shr2"),
          col("o_orderkey").bitwiseAND(lit(255L)).as("and255"),
          col("o_orderkey").bitwiseOR(lit(4096L)).as("or4096"),
          col("o_orderkey").bitwiseXOR(col("o_custkey")).as("xor_cust"),
          bit_count(col("o_orderkey")).cast("long").as("popcount"))
        .orderBy(col("o_orderkey"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q_string_funcs" ->
      """SELECT p_partkey,
        |  upper(p_name) AS upper_name,
        |  lower(p_brand) AS lower_brand,
        |  CAST(length(p_name) AS BIGINT) AS name_len,
        |  substring(p_name, 1, 5) AS name_prefix,
        |  trim(p_type) AS type_trim,
        |  p_brand || '|' || p_type AS brand_type,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS name_novowels,
        |  lpad(p_brand, 12, '0') AS brand_padded,
        |  CAST(strpos(p_name, 'a') AS BIGINT) AS first_a,
        |  reverse(p_brand) AS brand_rev
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_string_funcs2" ->
      """SELECT p_partkey,
        |  regexp_extract(p_type, '([A-Za-z]+)', 1) AS first_word,
        |  translate(p_brand, '#', '-') AS brand_dashed,
        |  split_part(p_type, ' ', 1) AS type_head,
        |  left(p_name, 4) AS name_left,
        |  right(p_name, 3) AS name_right,
        |  repeat(p_brand, 2) AS brand_twice,
        |  starts_with(p_name, 'a') AS starts_a,
        |  contains(p_name, 'green') AS has_green_str
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_date_funcs" ->
      """SELECT o_orderkey,
        |  CAST(o_orderdate AS DATE) AS order_date,
        |  CAST(year(o_orderdate) AS BIGINT) AS order_year,
        |  CAST(month(o_orderdate) AS BIGINT) AS order_month,
        |  CAST(day(o_orderdate) AS BIGINT) AS order_day,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS due_date,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_95
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_discount - 0.05) AS abs_disc,
        |  round(l_extendedprice, 0) AS price_round,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
        |  round(sqrt(l_quantity), 6) AS qty_sqrt,
        |  round(ln(l_extendedprice), 6) AS price_ln,
        |  round(log10(l_extendedprice), 6) AS price_log10,
        |  round(pow(l_quantity, 2), 2) AS qty_sq,
        |  l_orderkey % 7 AS key_mod,
        |  greatest(l_quantity, l_discount * 100) AS g,
        |  least(l_tax, l_discount) AS l
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, price_floor, qty_sqrt, abs_disc""".stripMargin,
    "q_conditional_funcs" ->
      """SELECT c_custkey,
        |  CASE WHEN c_acctbal < 0 THEN 'overdrawn'
        |       WHEN c_acctbal < 1000 THEN 'low'
        |       WHEN c_acctbal < 5000 THEN 'mid'
        |       ELSE 'high' END AS balance_band,
        |  coalesce(nullif(c_mktsegment, 'MACHINERY'), 'OTHER') AS segment_masked,
        |  (c_nationkey % 2 = 0) AS even_nation
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_array_funcs" ->
      """SELECT p_partkey,
        |  CAST(len(string_split(p_name, ' ')) AS BIGINT) AS n_tokens,
        |  string_split(p_name, ' ')[1] AS first_token,
        |  array_to_string(list_sort(string_split(p_name, ' ')), '-') AS sorted_joined,
        |  list_contains(string_split(p_name, ' '), 'green') AS has_green,
        |  array_to_string(list_sort(list_distinct(string_split(p_name, ' '))), ',') AS distinct_tokens,
        |  array_to_string(string_split(p_name, ' ')[1:2], ' ') AS first_two
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_array_hof" ->
      """SELECT p_partkey,
        |  CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS total_chars,
        |  CAST(len(list_filter(toks, t -> length(t) > 4)) AS BIGINT) AS n_long,
        |  len(list_filter(toks, t -> t = 'green')) > 0 AS has_green,
        |  len(list_filter(toks, t -> length(t) < 3)) = 0 AS all_ge3,
        |  array_to_string([toks[i] || '|' || rev[i] FOR i IN range(1, len(toks) + 1)], ',') AS zipped
        |FROM (
        |  SELECT p_partkey, string_split(p_name, ' ') AS toks,
        |    list_reverse(string_split(p_name, ' ')) AS rev
        |  FROM part)
        |ORDER BY p_partkey""".stripMargin,
    "q_map_ops" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice,
        |  'qty,disc' AS keys,
        |  l_quantity * 2 AS qty2,
        |  CAST((CASE WHEN l_quantity > 0.05 THEN 1 ELSE 0 END)
        |     + (CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
        |  1.0 AS one
        |FROM lineitem WHERE l_orderkey < 50
        |ORDER BY l_orderkey, l_linenumber, l_extendedprice, qty2""".stripMargin,
    "q_explode" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(string_split(p_name, ' ')) AS token FROM part)
        |GROUP BY token ORDER BY token""".stripMargin,
    "q_approx_distinct" ->
      """SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  true AS approx_within_5pct
        |FROM lineitem""".stripMargin,
    "q_json_funcs" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
        |FROM events ORDER BY event_id""".stripMargin,
    "q_json_agg" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_udaf_geomean" ->
      """SELECT l_returnflag, round(exp(avg(ln(l_extendedprice))), 4) AS geomean_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_sliding_window_batch" ->
      """SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
        |  count(*) AS n_events
        |FROM (
        |  SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
        |                 time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS ws,
        |         event_type
        |  FROM events)
        |GROUP BY ws, event_type ORDER BY 1, 2""".stripMargin,
    "q_stream_window_batch" ->
      """SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_url_funcs" ->
      """SELECT doc_id,
        |  regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
        |  regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
        |  regexp_extract(url, '[?&]lang=([^&#]*)', 1) AS lang_param,
        |  regexp_extract(url, '^([a-z]+)://', 1) AS protocol
        |FROM (
        |  SELECT doc_id,
        |    'https://' || source || '.example.com/docs/' || doc_id ||
        |      '?lang=' || lang || '&sz=' || n_chars AS url
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q_timestamp_funcs" ->
      """SELECT event_id,
        |  CAST(hour(ts) AS BIGINT) AS ts_hour,
        |  CAST(minute(ts) AS BIGINT) AS ts_minute,
        |  epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS epoch_s,
        |  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |  strftime(ts + INTERVAL '90 minutes', '%Y-%m-%d %H:%M:%S') AS ts_plus_90m
        |FROM events ORDER BY event_id""".stripMargin,
    "q_levenshtein" ->
      """SELECT a.n_name AS name_a, b.n_name AS name_b,
        |  CAST(levenshtein(a.n_name, b.n_name) AS BIGINT) AS edit_dist
        |FROM nation a, nation b WHERE a.n_name < b.n_name
        |ORDER BY name_a, name_b""".stripMargin,
    "q_agg_funcs" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_totalprice > 100000) AS n_big,
        |  bool_and(o_totalprice > 0) AS all_pos,
        |  bool_or(o_orderstatus = 'P') AS any_p,
        |  array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',') AS statuses
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_regexp_funcs" ->
      """SELECT doc_id,
        |  nullif(regexp_extract(lower(text), '\b(th[a-z]+)\b', 1), '') AS first_th,
        |  nullif(array_to_string(regexp_extract_all(lower(text), '\b(th[a-z]+)\b', 1), ','), '') AS all_th,
        |  CAST(len(regexp_extract_all(lower(text), '\bthe\b')) AS BIGINT) AS n_the,
        |  regexp_matches(lower(text), '[0-9]') AS has_digit
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_bitwise" ->
      """SELECT o_orderkey,
        |  o_orderkey << 3 AS shl3,
        |  o_orderkey >> 2 AS shr2,
        |  o_orderkey & 255 AS and255,
        |  o_orderkey | 4096 AS or4096,
        |  xor(o_orderkey, o_custkey) AS xor_cust,
        |  CAST(bit_count(o_orderkey) AS BIGINT) AS popcount
        |FROM orders ORDER BY o_orderkey""".stripMargin
  )
}
