package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Relational operator battery — one named query per operator family in
  * SURVEY.md §2, expressed over the driver's synthetic tables so the
  * DuckDB oracle can check them (Verify.scala / CORRECTNESS_r{N}.json).
  *
  * Conventions (required by the driver's hash compare):
  *   - every computed column is aliased identically here and in
  *     [[Oracle.sql]];
  *   - double-typed SUMs go through DECIMAL(18,2) so Spark's partial
  *     (map-side) aggregation order cannot produce ulp drift vs DuckDB's
  *     sequential sum — both engines sum exactly, then cast to double;
  *   - no LIMIT without a total ORDER BY (SURVEY §7.3).
  */
object RelationalQueries {

  /** Exact money sum: double column → decimal sum → double result.
    * Deterministic under any aggregation/partitioning order at any scale
    * (decimal addition is associative), unlike a raw double sum.
    */
  private def moneySum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** q1_agg — pricing-summary aggregate (SURVEY A1/A5, P1).
    * Mirrors the reference's daily-sum shape (btcolap.sql:459) over the
    * lineitem fact: group on two low-cardinality keys, sum measures.
    * Scale: map-side partial agg → tiny shuffle (|groups| ≈ 6).
    */
  def q1Agg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).as("n_rows"))

  /** q2_filter_project — scan + range/equality predicates + scalar
    * arithmetic (SURVEY P1-P6, S2). The negate-and-scale projection is
    * the reference's satoshi→BTC idiom (-value/1e8, btcolap.sql:107).
    * Filters and the 4-column projection push down to the parquet scan.
    */
  def q2FilterProject(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1999-01-01").cast("timestamp") &&
              col("l_returnflag") === "R")
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        (-col("l_extendedprice") / lit(1e2)).as("val"),
        col("l_shipdate"))

  /** q3_case_label — CASE WHEN sign→label + literal tag columns
    * (SURVEY P7/P10; btcolap.sql:214,106).
    */
  def q3CaseLabel(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(
        col("event_id"),
        lit("event").as("kind"),
        when(col("value") < 100.0, "small").otherwise("big").as("bucket"),
        col("event_type"))
      .groupBy(col("kind"), col("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** q4_explode — UNNEST/lateral flatten of an array column (SURVEY E1;
    * btcolap.sql:52-53): tokenize documents and count token frequency.
    * The filter after explode keeps output bounded; Catalyst pushes the
    * projection below the Generate node so only `text` is scanned.
    */
  def q4Explode(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 10)

  /** q5_nest_roundtrip — re-nest with ARRAY_AGG then flatten again
    * (SURVEY E2/E3; btcolap.sql:226-229 + 242-244): group lineitem rows
    * into an array-of-struct per order (the shape of
    * `transactions.inputs`), then double-explode back out. The oracle is
    * the identity projection — proving explode∘nest ≡ id as a multiset.
    */
  def q5NestRoundtrip(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(collect_list(struct(col("l_partkey"), col("l_quantity"))).as("legs"))
      .select(col("l_orderkey"), explode(col("legs")).as("leg"))
      .select(col("l_orderkey"), col("leg.l_partkey").as("l_partkey"),
              col("leg.l_quantity").as("l_quantity"))

  /** q6_dedup_keepfirst — D1 keep-first window dedup (btcolap.sql:1-15,
    * SURVEY W1): one row per customer — their earliest order, with a
    * deterministic orderkey tiebreak (the reference's ORDER BY was
    * arbitrary; the oracle harness needs determinism, SURVEY §7.3).
    */
  def q6DedupKeepFirst(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
  }

  /** q7_dedup_removeall — D2 remove-ALL-duplicated-keys semantics
    * (btcolap.sql:289-298): every order with more than one lineitem
    * vanishes entirely (NOT keep-first — the regression-prone variant,
    * SURVEY §7.3). A window count avoids the reference's self-join; at
    * scale this is one shuffle on the key instead of two.
    */
  def q7DedupRemoveAll(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
    Tables.lineitem(spark, sfDir)
      .withColumn("key_cnt", count(lit(1)).over(w))
      .filter(col("key_cnt") === 1)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
              col("l_quantity"))
  }

  /** q8_dedup_nullmask — D3 windowed CASE NULL-masking (dupedeleter
    * .sql:1-15): keep every row but null the measure on duplicates of
    * the key so later SUMs don't double-count. Row count is preserved.
    */
  def q8DedupNullMask(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("l_partkey"), col("l_suppkey"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
    Tables.lineitem(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"),
        when(col("rn") > 1, lit(null)).otherwise(col("l_quantity")).as("l_quantity"))
  }

  /** q9_dupe_audit — D4 duplicate-audit invariant query (btcolap
    * .sql:17-31): GROUP BY key HAVING COUNT(*)>1 ORDER BY count DESC.
    */
  def q9DupeAudit(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(count(lit(1)).as("occurrence_count"))
      .filter(col("occurrence_count") > 1)
      .orderBy(desc("occurrence_count"), col("l_partkey"), col("l_suppkey"))

  /** q10_union_all — O4 bag union of signed in/out legs (btcolap
    * .sql:136-140): purchases as positive flow, errors as negated flow,
    * with literal type tags. unionByName guards against positional
    * drift (SURVEY §7.3).
    */
  def q10UnionAll(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val inLeg = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), lit("input").as("type"),
              (-col("value")).as("val"))
    val outLeg = ev.filter(col("event_type") === "error")
      .select(col("event_id"), lit("output").as("type"),
              col("value").as("val"))
    inLeg.unionByName(outLeg)
  }

  /** q11_union_distinct — O5/D5 set-semantics union (btcolap.sql:280,308). */
  def q11UnionDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir).select(col("c_nationkey").as("nkey"))
      .unionByName(
        Tables.supplier(spark, sfDir).select(col("s_nationkey").as("nkey")))
      .distinct()

  /** q12_join_broadcast — J1/J4 dimension-enrichment joins (btcolap
    * .sql:429-430): fact → nation → region with explicit broadcast()
    * hints. At 100 TB the fact side never shuffles for these joins —
    * both dims ship to every executor.
    */
  def q12JoinBroadcast(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)),
            col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, sfDir)),
            col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
           moneySum(col("c_acctbal")).as("sum_bal"))

  /** q13_join_semi — J6 IN-subquery as a left-semi join (btcolap
    * .sql:3-15): orders whose customer is in the BUILDING segment.
    * Semi-join never widens rows, and Spark broadcasts the filtered
    * key set.
    */
  def q13JoinSemi(spark: SparkSession, sfDir: String): DataFrame = {
    val buildingCust = Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    Tables.orders(spark, sfDir)
      .join(broadcast(buildingCust), col("o_custkey") === col("c_custkey"),
            "left_semi")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
           moneySum(col("o_totalprice")).as("sum_price"))
  }

  /** Daily purchase/click series used by q14/q15 — the reference's
    * daily-aggregate + inner-merge shape (btc_logregression_pre.py:14-49,
    * SURVEY A1/A2/J5).
    */
  private[graft] def dailySeries(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    def daily(t: String, alias: String) =
      graft.ops.DailyAgg.daily(
        ev.filter(col("event_type") === t), "ts",
        moneySum(col("value")).as(alias))
    graft.ops.DailyAgg.merge(
        daily("purchase", "buy_value"), daily("click", "click_value"))
      .withColumnRenamed("date", "day")
  }

  /** q14_daily_series — A2 time-bucketed aggregation + J5 cross-series
    * inner join on the day bucket.
    */
  def q14DailySeries(spark: SparkSession, sfDir: String): DataFrame =
    dailySeries(spark, sfDir)

  /** q15_ols_daily — M1/M2 closed-form log-log OLS with diagnostics
    * (btc_logregression_pre.py:77-117): slope, intercept, R², RMSE and n
    * computed in ONE aggregate pass via population moments — no collect,
    * no iteration, scales to any number of days. Results rounded to 6dp
    * since Spark and DuckDB accumulate moments in different orders.
    */
  def q15OlsDaily(spark: SparkSession, sfDir: String): DataFrame = {
    // log-domain guard (≤0 sums would make ln null here and an error in
    // DuckDB, and desync n from the null-skipping moment aggregates)
    val d = dailySeries(spark, sfDir)
      .filter(col("buy_value") > 0.0 && col("click_value") > 0.0)
      .select(log(col("buy_value")).as("x"), log(col("click_value")).as("y"))
    d.agg(
        covar_pop(col("y"), col("x")).as("sxy"),
        var_pop(col("x")).as("sxx"),
        var_pop(col("y")).as("syy"),
        avg(col("x")).as("mx"),
        avg(col("y")).as("my"),
        count(lit(1)).as("n"))
      .select(
        round(col("sxy") / col("sxx"), 6).as("slope"),
        round(col("my") - (col("sxy") / col("sxx")) * col("mx"), 6).as("intercept"),
        round(pow(col("sxy"), 2) / (col("sxx") * col("syy")), 6).as("r2"),
        round(sqrt(col("syy") * (lit(1) - pow(col("sxy"), 2) / (col("sxx") * col("syy")))), 6).as("rmse"),
        col("n"))
  }

  /** q16_topn — O1/O2/O3 deterministic global top-k: full ORDER BY before
    * LIMIT (the reference's bare LIMIT 10 at btcolap.sql:153 is
    * nondeterministic — SURVEY §7.3). Spark plans this as TakeOrdered
    * (per-partition heap + merge), no global sort materialization.
    */
  def q16TopN(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  /** q17_window_rank — W1/W2 ROW_NUMBER per partition with full
    * deterministic tiebreak; top-3 lineitems per supplier by ship date.
    */
  def q17WindowRank(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    Tables.lineitem(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("l_suppkey"), col("rn"), col("l_orderkey"),
              col("l_linenumber"), col("l_shipdate"))
  }

  /** q18_conditional_agg — A3/A4/P8 conditional count + conditional
    * ARRAY_AGG IGNORE NULLS (btcolap.sql:224-227). collect_list drops
    * the CASE's nulls exactly like IGNORE NULLS; sort_array makes the
    * array deterministic under parallel aggregation. The final select
    * flattens the array to a CSV string: the driver's comparator cannot
    * sort/hash array-typed cells, and the array is already
    * deterministically ordered, so the join is lossless.
    *
    * A user with no `error` events gets `error_ids = ''` (the join of
    * an empty array) — what the oracle's `COALESCE(array_agg(...)
    * FILTER ..., [])` intends. DuckDB 1.0.0 evaluates
    * `array_to_string([]::BIGINT[], ',')` to NULL instead, so the
    * oracle check fails on any input with such a user; the engine's
    * `''` is pinned by RelationalQueriesSpec.
    */
  def q18ConditionalAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(
        count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
        count(when(col("event_type") === "click", 1)).as("n_click"),
        sort_array(collect_list(when(col("event_type") === "error",
                                     col("event_id")))).as("__error_ids"))
      .select(col("user_id"), col("n_purchase"), col("n_click"),
        array_join(transform(col("__error_ids"), _.cast("string")), ",")
          .as("error_ids"))

  /** q19_having_element — A6/P11 multi-key group + compound HAVING with
    * array element access (btcolap.sql:229-231): per order, flag-R vs
    * flag-A legs must be a 1:1 pair with differing first parts, or a
    * many:1 fan-in. try_element_at ≡ DuckDB's arr[i] (NULL past the end,
    * never an ANSI error).
    */
  def q19HavingElement(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(
        count(when(col("l_returnflag") === "R", 1)).as("r_cnt"),
        count(when(col("l_returnflag") === "A", 1)).as("a_cnt"),
        sort_array(collect_list(when(col("l_returnflag") === "R", col("l_partkey")))).as("r_parts"),
        sort_array(collect_list(when(col("l_returnflag") === "A", col("l_partkey")))).as("a_parts"))
      .filter(
        (col("r_cnt") === 1 && col("a_cnt") === 1 &&
          try_element_at(col("r_parts"), lit(1)) =!= try_element_at(col("a_parts"), lit(1))) ||
        (col("r_cnt") > 1 && col("a_cnt") === 1))
      // CSV-flatten the (already sorted, deterministic) arrays — the
      // driver's comparator cannot hash array cells (see q18)
      .select(col("l_orderkey"), col("r_cnt"), col("a_cnt"),
        array_join(transform(col("r_parts"), _.cast("string")), ",").as("r_parts"),
        array_join(transform(col("a_parts"), _.cast("string")), ",").as("a_parts"))

  /** q20_flow_ledger — the reference's full flow-ledger pipeline shape
    * (btcolap.sql:316-451) on the synthetic star schema: two signed
    * legs from the fact, UNION ALL, date-split filter, dimension
    * enrichment via broadcast, daily aggregation by flow direction and
    * location. This is EP1 end-to-end in one declarative plan — at
    * scale: one shuffle for the fact join on orderkey (or none if
    * co-bucketed), broadcasts for the dims, partial aggs before the
    * final small shuffle.
    */
  def q20FlowLedger(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    // satoshi→BTC-style scaling: /1e8 lands exactly on the 10dp decimal grid
    val scaled = (col("l_extendedprice") / lit(1e8)).cast("decimal(28,10)")
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_nationkey"))
    val nat = Tables.nation(spark, sfDir)
      .select(col("n_nationkey"), col("n_name").as("location"))
    // The reference's shape is UNION ALL of two signed legs, then join +
    // enrich + aggregate. Both legs share the join key and differ only
    // in sign/tag, so the Spark-first plan joins and aggregates the fact
    // ONCE and defers leg expansion until after the aggregate — the
    // dominant shuffle (fact ⋈ orders) and the partial agg each see half
    // the rows, and the algebra is exact: sum over input legs of -val is
    // the negated sum, leg counts are equal. (An optimizer cannot derive
    // this rewrite; it is the kind of push-down the query author owns.)
    li.select(col("l_orderkey"), scaled.as("val"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"),
               col("location"))
      .agg(sum(col("val")).as("s"), count(lit(1)).as("n"))
      .select(col("day"), col("location"),
        explode(array(
          struct(lit("input").as("type"), (-col("s")).as("s")),
          struct(lit("output").as("type"), col("s").as("s")))).as("leg"),
        col("n"))
      .select(col("day"), col("leg.type").as("type"), col("location"),
              col("leg.s").cast("double").as("flow"), col("n").as("n_legs"))
  }

  /** q22_count_distinct — distinct aggregates (SURVEY §2.6 notes the
    * reference never uses COUNT(DISTINCT); a complete engine needs it).
    * Spark plans distinct-agg as a two-stage expand+aggregate; the
    * approximate HLL variant is also exercised (not oracle-compared —
    * engines' sketches differ — but bounds-checked in the spec).
    */
  def q22CountDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("distinct_parts"),
        countDistinct(col("l_suppkey")).as("distinct_supps"),
        count(lit(1)).as("n_rows"))

  /** q23_rollup — hierarchical subtotals (SURVEY §2.6 "absent:
    * grouping sets/cube/rollup" — provided for completeness): per
    * (returnflag, linestatus), per returnflag, and grand total. The
    * grouping-id column disambiguates subtotal levels exactly as
    * DuckDB's GROUPING() does.
    *
    * Pre-aggregate BEFORE the rollup: a bare rollup Expands every fact
    * row ×(levels+1) and shuffles the multiplied set; since SUM/COUNT
    * are algebraic, collapsing to the finest grouping first (|groups| ≈
    * 6 here, bounded at any scale) and rolling THAT up is equivalent —
    * the Expand runs over the group count, not the row count.
    */
  def q23Rollup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("__sq"), count(lit(1)).as("__n"))
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping(col("l_returnflag")).as("g_flag"),
        grouping(col("l_linestatus")).as("g_status"),
        sum(col("__sq")).as("sum_qty"), sum(col("__n")).as("n"))

  /** q24_setops — INTERSECT/EXCEPT set semantics (SURVEY §2.8 absent
    * list): nations having customers but no suppliers, and vice versa,
    * tagged and unioned.
    */
  def q24SetOps(spark: SparkSession, sfDir: String): DataFrame = {
    val custNations = Tables.customer(spark, sfDir)
      .select(col("c_nationkey").as("nkey"))
    val suppNations = Tables.supplier(spark, sfDir)
      .select(col("s_nationkey").as("nkey"))
    val both = custNations.intersect(suppNations)
      .select(col("nkey"), lit("both").as("side"))
    val custOnly = custNations.except(suppNations)
      .select(col("nkey"), lit("cust_only").as("side"))
    both.unionByName(custOnly)
  }

  /** q25_asof — backward as-of join (beyond parity; SURVEY §2.5 absent
    * list): for each click event, the most recent purchase value by the
    * same user at or before the click. Composed from union + windowed
    * last(ignoreNulls) — one key shuffle; DuckDB's native ASOF JOIN is
    * the oracle.
    */
  def q25AsOf(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"), col("value"))
    graft.ops.AsOfJoin.backward(clicks, purchases, "user_id", "ts", "pts",
        valueCols = Seq("value"))
      .select(col("event_id"), col("user_id"),
              col("asof_value").as("last_purchase_value"))
  }

  /** q26_range_join — interval join (beyond parity): errors paired with
    * purchases by the same user within ±1 hour, aggregated per error.
    * Binned equi-join plan (ops.RangeJoin) — the DuckDB oracle states
    * the same semantics as a plain inequality join.
    */
  def q26RangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"), col("value"))
    graft.ops.RangeJoin.withinTolerance(errors, purchases, Seq("user_id"),
        "ts", "pts", toleranceSec = 3600)
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_nearby"),
           moneySum(col("value")).as("nearby_value"))
  }

  /** q21_json_extract — JSON field extraction from a string column (the
    * NDJSON surface, SURVEY S3/§1.4): pull `k` out of events.props and
    * aggregate. get_json_object evaluates per-row with no shuffle;
    * the DuckDB twin is props->>'k'.
    */
  def q21JsonExtract(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k_val"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("k_val")).as("sum_k"),
           max(col("k_val")).as("max_k"))

  /** Messy user→location NDJSON dimension shipped with the repo — the
    * reference's wallet_location2.ndjson shape (null locations, '?',
    * comma-lists, a junk `Unnamed: 2` column on some rows,
    * btcolap.sql:429-430). Regenerate with scripts/gen_user_location.py.
    */
  val UserLocationPath: String =
    sys.env.getOrElse("GRAFT_USER_LOCATION", "/root/repo/data/user_location.ndjson")

  /** q27_ndjson_dim — S3/J4 end-to-end: load the NDJSON dimension
    * through the junk-column-tolerant loader, broadcast-join the fact,
    * aggregate by location. Null locations coalesce to 'unknown' (kept
    * as a plain string so the comparator never sorts nulls).
    */
  def q27NdjsonDim(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = graft.ops.Enrich.loadWalletLocation(spark, UserLocationPath)
    Tables.events(spark, sfDir)
      .join(broadcast(dim), Seq("user_id"))
      .groupBy(coalesce(col("location"), lit("unknown")).as("location"))
      .agg(count(lit(1)).as("n_events"),
           moneySum(col("value")).as("sum_value"))
  }

  /** q28_struct_semi — the reference's composite-key row-value IN
    * (`WHERE STRUCT(wallet,address) IN (SELECT …)`, btcolap.sql:3-4):
    * Spark's idiomatic translation is a multi-column left-semi join —
    * the key set stays distinct and broadcasts when small.
    */
  def q28StructSemi(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val keys = li
      .filter(col("l_returnflag") === "R" && col("l_quantity") >= 45)
      .select(col("l_partkey"), col("l_suppkey"))
      .distinct()
    li.join(keys, Seq("l_partkey", "l_suppkey"), "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(count(lit(1)).as("n_lines"), sum(col("l_quantity")).as("sum_qty"))
  }

  /** q29_explode_outer — left-lateral flatten (SURVEY §2.3's noted
    * gap): groups with an empty array keep one row with a NULL element
    * instead of vanishing, exactly DuckDB's LEFT JOIN LATERAL unnest.
    */
  def q29ExplodeOuter(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(
        when(col("l_returnflag") === "R", col("l_partkey")))).as("r_parts"))
      .select(col("l_orderkey"), explode_outer(col("r_parts")).as("r_part"))

  /** q34_topk_ties — rank() top-k WITH ties (SURVEY §2.8 absent list):
    * unlike row_number, every row tied at a kept rank survives;
    * aggregated per (flag, rank) so the tie widths are the checked
    * signal.
    */
  def q34TopKTies(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(desc("l_quantity"))
    Tables.lineitem(spark, sfDir)
      .withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= 3)
      .groupBy(col("l_returnflag"), col("rnk"))
      .agg(count(lit(1)).as("n_tied"), min(col("l_orderkey")).as("min_key"))
  }

  /** q35_offset — offset pagination (SURVEY §2.8 absent list): page 2
    * of a deterministic total order. Spark plans the offset into the
    * TakeOrdered boundary — no full sort materialization.
    */
  def q35Offset(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
      .offset(10).limit(10)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  /** q39_cube — full cross-dimensional subtotals (CUBE completes the
    * grouping-sets family next to q23's ROLLUP), pre-aggregated before
    * the Expand exactly like q23: the ×4 row multiplication runs over
    * |groups|, not |rows|.
    */
  def q39Cube(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("__sq"), count(lit(1)).as("__n"))
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping(col("l_returnflag")).as("g_flag"),
        grouping(col("l_linestatus")).as("g_status"),
        sum(col("__sq")).as("sum_qty"), sum(col("__n")).as("n"))

  /** q40_scd2 — slowly-changing-dimension type-2 build from the events
    * change log: per user, collapse consecutive identical event_type
    * values and stamp [valid_from, valid_to) validity intervals + a
    * current flag (ops/Scd2). One window spec reused by both passes —
    * one shuffle, no funnel.
    */
  def q40Scd2(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Scd2.build(
        Tables.events(spark, sfDir)
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id")),
        "user_id", "event_type", "ts", Seq("event_id"))
      .select(col("user_id"), col("event_type"),
              col("valid_from"), col("valid_to"), col("is_current"))
      .orderBy(col("user_id"), col("valid_from"))

  /** q41_tfidf — corpus TF-IDF top-3 terms per document
    * (operators/CorpusStats): tf and df aggregations, a key-partitioned
    * term join (a web-scale vocabulary does not broadcast), and a
    * per-doc top-k window over high-cardinality doc_id partitions.
    */
  def q41TfIdf(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.CorpusStats.tfIdfTopTerms(
        Tables.documents(spark, sfDir), "doc_id", "text", k = 3)
      .orderBy(col("doc_id"), col("rnk"))

  /** q42_profile — one-pass column profiling of the orders table
    * (ops/Profiling): null/distinct/min/max per column, unpivoted to
    * one row per column.
    */
  def q42Profile(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Profiling.profile(Tables.orders(spark, sfDir),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"))
      .orderBy(col("col_name"))

  /** q43_skew_salted — the skew-mitigation join path (ops/Skew) under
    * an oracle: orders ⋈ customer salted 8 ways (hot-customer
    * insurance), then the segment rollup. The oracle is the PLAIN
    * join+group — salting must be a pure physical rewrite with zero
    * semantic drift, and this row proves it on real data.
    */
  def q43SkewSalted(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Skew.saltedJoin(
        Tables.orders(spark, sfDir).withColumn("c_custkey", col("o_custkey")),
        Tables.customer(spark, sfDir), "c_custkey", salts = 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
           moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("c_mktsegment"))

  /** q44_anti_join — left anti join (NOT EXISTS): parts that never
    * shipped a near-full-quantity line (l_quantity ≥ 49), rolled up by
    * brand (~30% of parts qualify at every SF — non-trivial both ways).
    * Completes the join-kind matrix next to inner/semi/outer; the
    * filter pushes into the build side before the anti join, and only
    * the key column of the probe side rides the shuffle.
    */
  def q44AntiJoin(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .join(Tables.lineitem(spark, sfDir)
              .filter(col("l_quantity") >= 49)
              .select(col("l_partkey").as("p_partkey")),
            Seq("p_partkey"), "left_anti")
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
           moneySum(col("p_retailprice")).as("sum_retail"))
      .orderBy(col("p_brand"))

  /** q45_full_outer — full outer daily-series merge: the q14 join kept
    * only days with BOTH purchase and click activity; the full variant
    * keeps every day, null-filling the absent side (COALESCE'd day key).
    */
  def q45FullOuter(spark: SparkSession, sfDir: String): DataFrame = {
    def daily(t: String, alias: String) =
      Tables.events(spark, sfDir)
        .filter(col("event_type") === t)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(moneySum(col("value")).as(alias))
    val buys = daily("purchase", "buy_value")
    val clicks = daily("click", "click_value")
    buys.join(clicks, Seq("day"), "full_outer")
      .select(col("day"), col("buy_value"), col("click_value"))
      .orderBy(col("day"))
  }

  /** q46_scalar_subquery — aggregate scalar subquery in a predicate:
    * lineitems priced above 1.5× the global average. Catalyst plans the
    * scalar as its own tiny job and folds the result into the main
    * scan's filter — the subquery never joins row-by-row.
    */
  def q46ScalarSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("q46_lineitem")
    spark.sql(
      """SELECT l_returnflag, count(*) AS n_pricey,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM q46_lineitem
        |WHERE l_extendedprice >
        |      (SELECT 1.5 * avg(l_extendedprice) FROM q46_lineitem)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)
  }

  /** q38_sessionize — gap-based event sessionization
    * (session_window): consecutive events of a user belong to one
    * session while each starts strictly before the previous event's
    * time + gap; the session's end is last-event + gap. The canonical
    * user-journey / training-data-curation operator. Spark plans this
    * as a single aggregation with session merging — one shuffle on the
    * user key; the DuckDB oracle is the classic gaps-and-islands form
    * (lag + running break count), which states identical semantics.
    */
  def q38Sessionize(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(session_window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  /** q36_pivot — wide daily matrix: one column of summed value per
    * event type (the OLAP cross-tab). The pivot values are DECLARED —
    * an unlisted-values pivot costs an extra distinct scan and makes
    * the output schema data-dependent, which no 100 TB pipeline wants.
    * Spark plans this as ONE aggregate with per-bucket conditional
    * sums, exactly the CASE-WHEN form the oracle states.
    */
  def q36Pivot(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(moneySum(col("value")))

  /** q37_unpivot — long form back out of the wide daily matrix (melt):
    * the inverse of q36, via the typed unpivot API. Null cells drop,
    * matching the SQL UNION-ALL form with IS NOT NULL.
    */
  def q37Unpivot(spark: SparkSession, sfDir: String): DataFrame =
    q36Pivot(spark, sfDir)
      .unpivot(Array(col("day")), "event_type", "sum_value")
      .filter(col("sum_value").isNotNull)

  /** q33_asof_native — the SAME backward as-of semantics as q25, but
    * through the custom whole-operator plan (AsOfJoinNode →
    * AsOfJoinStrategy → AsOfJoinExec; build-spec extension tier (c)):
    * children clustered+sorted by Catalyst's EnsureRequirements, one
    * streaming merge per partition, no union padding and no window
    * state. Oracle: DuckDB's native ASOF LEFT JOIN — same as q25's.
    */
  def q33AsOfNative(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"), col("value"))
    graft.plans.NativeAsOfJoin.backward(clicks, purchases, "user_id",
        "ts", "pts", valueCols = Seq("value"))
      .select(col("event_id"), col("user_id"),
              col("asof_value").as("last_purchase_value"))
  }

  /** q31_window_frames — analytic window functions with explicit
    * frames (SURVEY §2.7 notes the reference uses only ROW_NUMBER; lag
    * and rolling frames are the first things a real series analysis
    * adds): per user, each purchase with the previous purchase value
    * and a trailing 7-row moving average. Partitioned by user — the
    * window never funnels, regardless of event count.
    */
  def q31WindowFrames(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("value"),
        lag(col("value"), 1).over(w).as("prev_value"),
        round(avg(col("value")).over(w.rowsBetween(-6, 0)), 6).as("avg_7"))
  }

  /** q32_percentiles — exact interpolated percentiles (SURVEY §2.6
    * absent list): median and p90 per group. Spark's percentile and
    * DuckDB's quantile_cont share the linear-interpolation definition;
    * at cluster scale the approx_percentile sketch is the cheap
    * substitute (bounds-checked in the spec, not oracle-compared —
    * sketches differ across engines).
    */
  def q32Percentiles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(percentile(col("l_quantity"), lit(0.5)), 6).as("median_qty"),
        round(percentile(col("l_quantity"), lit(0.9)), 6).as("p90_qty"),
        round(percentile(col("l_extendedprice"), lit(0.99)), 6).as("p99_price"))

  /** q30_congruent — the reference's `congruent` CTAS end-to-end
    * (btcolap.sql:234-266): build a signed two-leg flow, group it into
    * per-txid leg counts + sorted address arrays (Flows.groupedFlow),
    * keep txids passing the congruence constraint
    * (Flows.congruentConstraint), then emit the surviving flow rows via
    * a semi-join — the flow never widens and shuffles once on txid.
    */
  def q30Congruent(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val scaled = (col("l_extendedprice") / lit(1e8)).cast("decimal(28,10)")
    def legOf(flag: String, tag: String, sign: Int) =
      li.filter(col("l_returnflag") === flag)
        .select(col("l_orderkey").as("txid"), lit(tag).as("type"),
                col("l_partkey").cast("string").as("addr"),
                (scaled * lit(sign)).as("val"))
    val flow = legOf("R", "input", -1).unionByName(legOf("A", "output", 1))
    val congruent = graft.ops.Flows
      .congruentConstraint(graft.ops.Flows.groupedFlow(flow))
      .select(col("txid"))
    flow.join(congruent, Seq("txid"), "left_semi")
      .select(col("txid"), col("type"), col("addr"),
              col("val").cast("double").as("val"))
  }

  /** q47_delete_merge — the S6 mutable-table surface as a driver query
    * (the reference DELETEs rows of a live table in place,
    * btcolap.sql:1-15, 289-298; MERGE is the companion verb the same
    * layout must support): materialize an orders snapshot as a
    * versioned-parquet MutableTable, DELETE WHERE status = 'F', then
    * MERGE doubled-price 'P' rows (matched keys update in place,
    * unmatched insert). The final state is plain SQL over the source
    * table — an exact oracle — and the table's version history stays
    * pruned to the retention cap while the verbs run.
    */
  def q47DeleteMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"${graft.io.TempDirs.create("q47_table")}/t"
    val snap = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"),
              col("o_orderstatus"), col("o_totalprice"))
    val t = graft.io.MutableTable.create(spark, base, snap)
    t.deleteWhere(col("o_orderstatus") === "F")
    t.upsert(
      snap.filter(col("o_orderstatus") === "P")
        .withColumn("o_totalprice", col("o_totalprice") * 2),
      keys = Seq("o_orderkey"))
    t.read().orderBy(col("o_orderkey"))
  }

  /** q48_bq_dialect — the reference's congruent-HAVING query SHAPE
    * (btcolap.sql:219-230: conditional counts + ARRAY_AGG ... IGNORE
    * NULLS + `arr[OFFSET(0)]` inequality in HAVING) pasted in BigQuery
    * dialect and run through the textual translation layer
    * (SqlFacade.bigQuerySql / BigQueryDialect) — proving the SQL-string
    * surface accepts the reference's own syntax, not just ANSI. The
    * outer projection drops the arrays: branch-1 groups have 1-element
    * arrays (OFFSET(0) deterministic), branch 2 never consults them,
    * so the emitted scalars are engine-exact for the oracle.
    */
  def q48BqDialect(spark: SparkSession, sfDir: String): DataFrame = {
    graft.SqlFacade.registerTables(spark, sfDir)
    graft.SqlFacade.bigQuerySql(spark,
      """SELECT txid, input_count, output_count FROM (
        |  SELECT l_orderkey AS txid,
        |    COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS input_count,
        |    COUNT(CASE WHEN l_returnflag = 'A' THEN 1 END) AS output_count,
        |    ARRAY_AGG(CASE WHEN l_returnflag = 'R'
        |              THEN CAST(l_partkey AS STRING) END IGNORE NULLS) AS ia,
        |    ARRAY_AGG(CASE WHEN l_returnflag = 'A'
        |              THEN CAST(l_partkey AS STRING) END IGNORE NULLS) AS oa
        |  FROM `some-project.btc_data.lineitem`
        |  GROUP BY l_orderkey
        |  HAVING (input_count = 1 AND output_count = 1
        |          AND ia[OFFSET(0)] != oa[OFFSET(0)])
        |      OR (input_count > 1 AND output_count = 1)
        |)
        |ORDER BY txid""".stripMargin)
  }

  /** q49_sql_operator_view — the operator library reached ENTIRELY
    * through SQL text: SqlFacade.registerOperatorViews publishes the
    * headline relational operators (minhash_near_dups, quota_mix,
    * quality_flags, drift_ks) as lazy temp views, and this query is
    * one `spark.sql` string over `quota_mix` — the per-source quota
    * sampler (t29's recipe) — with no DataFrame code between the SQL
    * author and the operator. Hash-exact against the same md5-rank
    * replay oracle as t29, proving the SQL surface returns the
    * operator's exact output, not an approximation of it.
    */
  def q49SqlOperatorView(spark: SparkSession, sfDir: String): DataFrame = {
    graft.SqlFacade.registerTables(spark, sfDir)
    graft.SqlFacade.registerOperatorViews(spark, sfDir)
    graft.SqlFacade.sql(spark,
      "SELECT doc_id, source FROM quota_mix ORDER BY doc_id")
  }

  /** q50_sql_drift_panel — the t154 KS + PSI + χ² drift verdict
    * reached entirely through SQL text over the `drift_panel`
    * operator view (the q49 pattern widened to the monitoring
    * family): hash-exact against t154's own oracle, so the SQL
    * surface provably returns the operator's exact output.
    */
  def q50SqlDriftPanel(spark: SparkSession, sfDir: String): DataFrame = {
    graft.SqlFacade.registerTables(spark, sfDir)
    graft.SqlFacade.registerOperatorViews(spark, sfDir)
    graft.SqlFacade.sql(spark,
      "SELECT * FROM drift_panel ORDER BY event_type")
  }

  /** q51_sql_hybrid_search — the t94 BM25 + dense cosine + RRF
    * first-stage retrieval stack through SQL text over the
    * `hybrid_search` view; hash-exact against t94's oracle.
    */
  def q51SqlHybridSearch(spark: SparkSession, sfDir: String): DataFrame = {
    graft.SqlFacade.registerTables(spark, sfDir)
    graft.SqlFacade.registerOperatorViews(spark, sfDir)
    graft.SqlFacade.sql(spark,
      "SELECT * FROM hybrid_search ORDER BY fused_rank")
  }

  /** q53_sql_datacard — the per-source corpus datacard (t255) through
    * SQL text over the `datacard` operator view; hash-exact against
    * t255's oracle. The release-artifact query a SQL-only dataset
    * owner runs first.
    */
  def q53SqlDatacard(spark: SparkSession, sfDir: String): DataFrame = {
    graft.SqlFacade.registerTables(spark, sfDir)
    graft.SqlFacade.registerOperatorViews(spark, sfDir)
    graft.SqlFacade.sql(spark,
      "SELECT * FROM datacard ORDER BY source")
  }

  /** q54_sql_cluster_quality — the t257 per-cluster quality audit
    * (inertia, simplified silhouette, Davies–Bouldin worst term)
    * through SQL text over the `cluster_quality` operator view;
    * hash-exact against t257's oracle.
    */
  def q54SqlClusterQuality(spark: SparkSession, sfDir: String): DataFrame = {
    graft.SqlFacade.registerTables(spark, sfDir)
    graft.SqlFacade.registerOperatorViews(spark, sfDir)
    graft.SqlFacade.sql(spark,
      "SELECT * FROM cluster_quality ORDER BY cluster")
  }

  /** q55_sql_canonical_dups — the t259 Unicode-canonical duplicate
    * groups through SQL text over the `canonical_dups` view (the
    * native nfc_normalize SQL function is also registered for ad-hoc
    * use); hash-exact against t259's oracle.
    */
  def q55SqlCanonicalDups(spark: SparkSession, sfDir: String): DataFrame = {
    graft.SqlFacade.registerTables(spark, sfDir)
    graft.SqlFacade.registerOperatorViews(spark, sfDir)
    graft.SqlFacade.sql(spark,
      "SELECT * FROM canonical_dups ORDER BY kept_id")
  }

  /** q56_sql_embedding_card — the t261 embedding health card through
    * SQL text over the `embedding_card` view; hash-exact against
    * t261's oracle.
    */
  def q56SqlEmbeddingCard(spark: SparkSession, sfDir: String): DataFrame = {
    graft.SqlFacade.registerTables(spark, sfDir)
    graft.SqlFacade.registerOperatorViews(spark, sfDir)
    graft.SqlFacade.sql(spark,
      "SELECT * FROM embedding_card ORDER BY label")
  }

  /** q57_sql_corpus_diff — the t262 snapshot delta through SQL text
    * over the `corpus_diff` view; hash-exact against t262's oracle.
    */
  def q57SqlCorpusDiff(spark: SparkSession, sfDir: String): DataFrame = {
    graft.SqlFacade.registerTables(spark, sfDir)
    graft.SqlFacade.registerOperatorViews(spark, sfDir)
    graft.SqlFacade.sql(spark,
      "SELECT * FROM corpus_diff ORDER BY source")
  }

  /** q52_sql_near_dup_clusters — the t38 exact+n-gram near-dup
    * connected components with canonical survivors through SQL text
    * over the `near_dup_clusters` view; hash-exact against t38's
    * oracle.
    */
  def q52SqlNearDupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    graft.SqlFacade.registerTables(spark, sfDir)
    graft.SqlFacade.registerOperatorViews(spark, sfDir)
    graft.SqlFacade.sql(spark,
      "SELECT * FROM near_dup_clusters ORDER BY component")
  }

  /** q58_sql_filtered_search — metadata-filtered exact cosine top-k
    * (the vector-DB "predicate + top-k" surface, t98) through SQL
    * text over the `filtered_search` view; hash-exact against t98's
    * oracle — the ANN/vector family's first SQL-surface entry.
    */
  def q58SqlFilteredSearch(spark: SparkSession, sfDir: String): DataFrame = {
    graft.SqlFacade.registerTables(spark, sfDir)
    graft.SqlFacade.registerOperatorViews(spark, sfDir)
    graft.SqlFacade.sql(spark,
      "SELECT * FROM filtered_search ORDER BY qid, rank")
  }

  /** q59_sql_funnel — the ordered first-touch funnel (t107) through
    * SQL text over the `funnel` view; hash-exact against t107's
    * CTE-chain oracle.
    */
  def q59SqlFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    graft.SqlFacade.registerTables(spark, sfDir)
    graft.SqlFacade.registerOperatorViews(spark, sfDir)
    graft.SqlFacade.sql(spark,
      "SELECT * FROM funnel ORDER BY step")
  }

  /** q60_sql_retention — weekly retention cohorts (t108) through SQL
    * text over the `retention` view; hash-exact against t108's
    * first-seen/date_trunc oracle.
    */
  def q60SqlRetention(spark: SparkSession, sfDir: String): DataFrame = {
    graft.SqlFacade.registerTables(spark, sfDir)
    graft.SqlFacade.registerOperatorViews(spark, sfDir)
    graft.SqlFacade.sql(spark,
      "SELECT * FROM retention ORDER BY cohort_week, week_no")
  }

  /** q61_sql_sessions — gap-based sessionization (t185) through SQL
    * text over the `sessions` view; hash-exact against t185's
    * oracle.
    */
  def q61SqlSessions(spark: SparkSession, sfDir: String): DataFrame = {
    graft.SqlFacade.registerTables(spark, sfDir)
    graft.SqlFacade.registerOperatorViews(spark, sfDir)
    graft.SqlFacade.sql(spark,
      "SELECT * FROM sessions ORDER BY user_id, session_no")
  }

  /** q62_sql_repetition — the Gopher repetition report (t267) through
    * SQL text over the `repetition` view; hash-exact against t267's
    * oracle.
    */
  def q62SqlRepetition(spark: SparkSession, sfDir: String): DataFrame = {
    graft.SqlFacade.registerTables(spark, sfDir)
    graft.SqlFacade.registerOperatorViews(spark, sfDir)
    graft.SqlFacade.sql(spark,
      "SELECT * FROM repetition ORDER BY source")
  }

  /** q63_sql_prefix_jaccard — the exact prefix-filter all-pairs
    * Jaccard join (t266) through SQL text over the `prefix_jaccard`
    * view; hash-exact against t266's naive-all-pairs oracle.
    */
  def q63SqlPrefixJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    graft.SqlFacade.registerTables(spark, sfDir)
    graft.SqlFacade.registerOperatorViews(spark, sfDir)
    graft.SqlFacade.sql(spark,
      "SELECT * FROM prefix_jaccard ORDER BY id_a, id_b")
  }

  /** q64_sql_mink_prob — the min-k% prob membership probe (t268)
    * through SQL text over the `mink_prob` view; hash-exact against
    * t268's oracle.
    */
  def q64SqlMinkProb(spark: SparkSession, sfDir: String): DataFrame = {
    graft.SqlFacade.registerTables(spark, sfDir)
    graft.SqlFacade.registerOperatorViews(spark, sfDir)
    graft.SqlFacade.sql(spark,
      "SELECT * FROM mink_prob ORDER BY doc_id")
  }

  /** q65_sql_snapshot_diff — CDC classification between two corpus
    * versions (t88) through SQL text over the `snapshot_diff` view;
    * hash-exact against t88's oracle.
    */
  def q65SqlSnapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    graft.SqlFacade.registerTables(spark, sfDir)
    graft.SqlFacade.registerOperatorViews(spark, sfDir)
    graft.SqlFacade.sql(spark,
      "SELECT * FROM snapshot_diff ORDER BY doc_id")
  }

  /** q66_sql_validate — the declared-expectations data-quality gate
    * (t87) through SQL text over the `validate_suite` view;
    * hash-exact against t87's oracle.
    */
  def q66SqlValidate(spark: SparkSession, sfDir: String): DataFrame = {
    graft.SqlFacade.registerTables(spark, sfDir)
    graft.SqlFacade.registerOperatorViews(spark, sfDir)
    graft.SqlFacade.sql(spark,
      "SELECT * FROM validate_suite ORDER BY rule")
  }

  /** q67_sql_rolling_distinct — 7-day rolling distinct users from
    * mergeable per-day HLL sketches (t91) through SQL text over the
    * `rolling_distinct` view. Hash-exact against an EXACT DuckDB
    * recount of the same windows: at verify scale the lgK=12
    * DataSketches HLL stays in coupon (list/set) mode — exact by
    * construction, not approximately right (sf0.01 windows hold ≤
    * 150 distinct users, sf0.1 ≤ 1500; the t92 audit measured 0.0
    * relative error at both) — so the estimate-typed operator pins
    * to exact ground truth here while t92 remains the enforced gate
    * for post-promotion scales.
    */
  def q67SqlRollingDistinct(spark: SparkSession,
                            sfDir: String): DataFrame = {
    graft.SqlFacade.registerTables(spark, sfDir)
    graft.SqlFacade.registerOperatorViews(spark, sfDir)
    graft.SqlFacade.sql(spark,
      "SELECT * FROM rolling_distinct ORDER BY day")
  }

  /** q68_sql_substr_spans — exact character-level duplicated-substring
    * spans (t269, the prefix-doubling ExactSubstr operator) through
    * SQL text over the `substr_dup_spans` view; hash-exact against
    * t269's literal-substring-grouping oracle.
    */
  def q68SqlSubstrSpans(spark: SparkSession, sfDir: String): DataFrame = {
    graft.SqlFacade.registerTables(spark, sfDir)
    graft.SqlFacade.registerOperatorViews(spark, sfDir)
    graft.SqlFacade.sql(spark,
      "SELECT * FROM substr_dup_spans ORDER BY doc_id, span_start")
  }

  /** q69_sql_rerank — the two-stage retrieve-then-rerank stack (t270:
    * t94's hybrid first stage + the deterministic cross-scorer)
    * through SQL text over the `rerank` view; hash-exact against
    * t270's oracle.
    */
  def q69SqlRerank(spark: SparkSession, sfDir: String): DataFrame = {
    graft.SqlFacade.registerTables(spark, sfDir)
    graft.SqlFacade.registerOperatorViews(spark, sfDir)
    graft.SqlFacade.sql(spark,
      "SELECT * FROM rerank ORDER BY rerank")
  }

  /** q70_sql_rolling_quantiles — rolling 7-day p50/p95 from mergeable
    * per-day KLL sketches through SQL text over the
    * `rolling_quantiles` view; hash-exact against a DuckDB rank-
    * selection replay because the view's sketches sit in KLL's
    * pre-compaction exact regime at verify scale (precondition
    * enforced in the view builder; t100 is the rank-error gate
    * beyond the regime — see TrainingQueries.rollingQuantilesExact).
    */
  def q70SqlRollingQuantiles(spark: SparkSession,
                             sfDir: String): DataFrame = {
    graft.SqlFacade.registerTables(spark, sfDir)
    graft.SqlFacade.registerOperatorViews(spark, sfDir)
    graft.SqlFacade.sql(spark,
      "SELECT * FROM rolling_quantiles ORDER BY day")
  }

  /** q71_sql_weighted_quantiles — exact quantity-weighted price
    * quartiles (t184's pure-integer rank tests) through SQL text
    * over the `weighted_quantiles` view; hash-exact against t184's
    * oracle verbatim.
    */
  def q71SqlWeightedQuantiles(spark: SparkSession,
                              sfDir: String): DataFrame = {
    graft.SqlFacade.registerTables(spark, sfDir)
    graft.SqlFacade.registerOperatorViews(spark, sfDir)
    graft.SqlFacade.sql(spark,
      "SELECT * FROM weighted_quantiles ORDER BY flag")
  }

  /** q72_sql_langid — the trainable naive-Bayes language-ID's
    * confusion matrix (t271) through SQL text over the
    * `langid_confusion` view; hash-exact against t271's full
    * train-and-score DuckDB replay.
    */
  def q72SqlLangid(spark: SparkSession, sfDir: String): DataFrame = {
    graft.SqlFacade.registerTables(spark, sfDir)
    graft.SqlFacade.registerOperatorViews(spark, sfDir)
    graft.SqlFacade.sql(spark,
      "SELECT * FROM langid_confusion ORDER BY lang, pred")
  }
}
