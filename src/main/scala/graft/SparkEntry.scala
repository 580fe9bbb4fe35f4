package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Relational

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each with an equivalent DuckDB oracle in `oracleSql`.
  *
  * The reference's query surface (24 GORM functions in
  * `/root/reference/app/db/query.go`) is a catalogue of operator *shapes*:
  * point lookup, closed-range scan, ranged fact⋈dim equi-join, semi/anti
  * join, global aggregate, top-K. Each shape is bound here to the synthetic
  * test tables (TESTDATA.md): `orders` plays the keyed+timestamped
  * dimension (≙ blocks), `lineitem` the fact table with FK + secondary
  * predicates (≙ transactions), `events` the event stream (≙ events).
  *
  * Every query ends in a deterministic ORDER BY over its full output so
  * result hashing is stable; Catalyst eliminates these sorts under
  * aggregating consumers (e.g. Bench's `.count()`), so they cost nothing
  * at benchmark time.
  */
object SparkEntry {

  private def ntz(s: String): Column = lit(s).cast(TimestampNTZType)
  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * TPC-H Q1-shaped aggregate over lineitem — the canonical "scan →
    * partial agg → final agg" plan our engine must get right at 100 TB. */
  def entry(spark: SparkSession): DataFrame =
    g1GroupbyAgg(spark, "/root/testdata/sf0.001")

  // ===== §2.2 projections / filters / point lookups ======================

  /** Q1/Q2 `GetBlockByHash`/`ByNumber` (query.go:79-100): PK point lookup. */
  private def q01(spark: SparkSession, dir: String): DataFrame =
    Relational.pointLookup(Tables.orders(spark, dir), col("o_orderkey") === 4242)

  private def q02(spark: SparkSession, dir: String): DataFrame =
    Relational.pointLookup(Tables.part(spark, dir), col("p_partkey") === 999)

  /** Q3 `GetBlocksByNumberRange` (query.go:109-119): closed range, sorted. */
  private def q03(spark: SparkSession, dir: String): DataFrame =
    Relational.keyRangeScan(Tables.orders(spark, dir), col("o_orderkey"), 100, 199)

  /** Q4 `GetBlocksByTimeRange` (query.go:125-135). */
  private def q04(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.filter(col("o_orderdate").between(ntz("1996-01-01 00:00:00"), ntz("1996-01-31 23:59:59")))
      .orderBy(col("o_orderkey"))
  }

  /** Q5 `GetAllBlockNumbersInRange` (query.go:15-29): range + 1-col projection. */
  private def q05(spark: SparkSession, dir: String): DataFrame =
    Relational.keyRangeScan(Tables.orders(spark, dir), col("o_orderkey"), 100, 299)
      .select("o_orderkey")

  /** Q8 `GetTransactionsByBlockHash` (query.go:153-163): FK equality filter. */
  private def q06(spark: SparkSession, dir: String): DataFrame =
    Relational.filterScan(Tables.lineitem(spark, dir), col("l_orderkey") === 4242)
      .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"), col("l_quantity"))

  /** Q7 `GetTransactionFromAccountWithNonce` (query.go:401-409): conjunctive eq. */
  private def q07(spark: SparkSession, dir: String): DataFrame =
    Relational.filterScan(Tables.lineitem(spark, dir),
        col("l_suppkey") === 7 && col("l_linenumber") === 5)
      .orderBy(col("l_orderkey"), col("l_partkey"), col("l_quantity"), col("l_extendedprice"))

  /** Q9/Q10 events by origin (query.go:444-467). */
  private def q08(spark: SparkSession, dir: String): DataFrame =
    Relational.filterScan(Tables.events(spark, dir), col("user_id") === 42)
      .orderBy(col("event_id"))

  private def q09(spark: SparkSession, dir: String): DataFrame =
    Relational.filterScan(Tables.events(spark, dir),
        col("user_id") === 42 && col("event_type") === "purchase")
      .orderBy(col("event_id"))

  /** Q11 `GetEventByBlockHashAndLogIndex` (query.go:590-600): composite key.
    * (12, 5) exists at every sf — the round-1 key matched zero rows, which
    * made the gate vacuous. */
  private def q10(spark: SparkSession, dir: String): DataFrame =
    Relational.filterScan(Tables.lineitem(spark, dir),
        col("l_orderkey") === 12 && col("l_linenumber") === 5)
      .orderBy(col("l_partkey"), col("l_suppkey"), col("l_quantity"))

  /** Q12 `GetEventByBlockNumberAndLogIndex` (query.go:604-622): two-step
    * secondary→primary lookup, expressed as one semi-join plan. */
  private def q12(spark: SparkSession, dir: String): DataFrame =
    Relational.semiJoin(
        Tables.lineitem(spark, dir), Tables.orders(spark, dir),
        "l_orderkey", "o_orderkey",
        col("o_orderdate") === ntz("1997-06-15 00:00:00"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"))

  /** Q13 contract-creation predicate (query.go:377,391): flag filter. */
  private def q13(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R" && col("l_orderkey").between(0, 999))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"))

  // ===== §2.3 joins ======================================================

  private def liCols: Seq[Column] = Seq(
    col("l_orderkey"), col("l_linenumber"), col("l_suppkey"), col("l_partkey"),
    col("l_quantity"), col("l_extendedprice"), col("o_orderdate"))
  private def liSort: Seq[Column] = Seq(
    col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
    col("l_quantity"), col("l_extendedprice"))

  /** J1 `GetTransactionsFromAccountByBlockNumberRange` (query.go:206-230). */
  private def j1(spark: SparkSession, dir: String): DataFrame =
    Relational.factJoinDim(
        Tables.lineitem(spark, dir), Tables.orders(spark, dir),
        "l_orderkey", "o_orderkey",
        col("l_suppkey") === 5, col("o_orderkey").between(1000, 4999))
      .select(liCols: _*).orderBy(liSort: _*)

  /** J2 …`ByBlockTimeRange` (query.go:234-258). */
  private def j2(spark: SparkSession, dir: String): DataFrame =
    Relational.factJoinDim(
        Tables.lineitem(spark, dir), Tables.orders(spark, dir),
        "l_orderkey", "o_orderkey",
        col("l_suppkey") === 5,
        col("o_orderdate").between(ntz("1996-01-01 00:00:00"), ntz("1996-06-30 23:59:59")))
      .select(liCols: _*).orderBy(liSort: _*)

  /** J3/J4 `…ToAccountBy{Number,Time}Range` (query.go:262-314). */
  private def j3(spark: SparkSession, dir: String): DataFrame =
    Relational.factJoinDim(
        Tables.lineitem(spark, dir), Tables.orders(spark, dir),
        "l_orderkey", "o_orderkey",
        col("l_partkey") === 77, col("o_orderkey").between(0, 9999))
      .select(liCols: _*).orderBy(liSort: _*)

  /** J5/J6 `…BetweenAccountsBy{Number,Time}Range` (query.go:318-370). */
  private def j5(spark: SparkSession, dir: String): DataFrame =
    Relational.factJoinDim(
        Tables.lineitem(spark, dir), Tables.orders(spark, dir),
        "l_orderkey", "o_orderkey",
        col("l_suppkey") === 5 && col("l_partkey").between(0, 999),
        col("o_orderkey").between(0, 9999))
      .select(liCols: _*).orderBy(liSort: _*)

  /** J7 contract-creation txs from account in range (query.go:374-398). */
  private def j7(spark: SparkSession, dir: String): DataFrame =
    Relational.factJoinDim(
        Tables.lineitem(spark, dir), Tables.orders(spark, dir),
        "l_orderkey", "o_orderkey",
        col("l_suppkey") === 5 && col("l_returnflag") === "R",
        col("o_orderkey").between(0, 9999))
      .select(liCols: _*).orderBy(liSort: _*)

  /** J4 `…ToAccountByBlockTimeRange` (query.go:290-314): to-account
    * predicate + dim time range. */
  private def j4(spark: SparkSession, dir: String): DataFrame =
    Relational.factJoinDim(
        Tables.lineitem(spark, dir), Tables.orders(spark, dir),
        "l_orderkey", "o_orderkey",
        col("l_partkey") === 77,
        col("o_orderdate").between(ntz("1995-01-01 00:00:00"), ntz("1996-12-31 23:59:59")))
      .select(liCols: _*).orderBy(liSort: _*)

  /** J6 `…BetweenAccountsByBlockTimeRange` (query.go:346-370). */
  private def j6(spark: SparkSession, dir: String): DataFrame =
    Relational.factJoinDim(
        Tables.lineitem(spark, dir), Tables.orders(spark, dir),
        "l_orderkey", "o_orderkey",
        col("l_suppkey") === 5 && col("l_partkey").between(0, 1999),
        col("o_orderdate").between(ntz("1995-01-01 00:00:00"), ntz("1996-12-31 23:59:59")))
      .select(liCols: _*).orderBy(liSort: _*)

  /** J8 `GetEventsFromContractByBlockNumberRange` (query.go:413-441):
    * event stream enriched against a dimension with a range predicate. */
  private def j8(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val c = Tables.customer(spark, dir)
    // No broadcast hint: the mktsegment filter keeps ~1/5 of the dimension —
    // proportional to table size, so a forced broadcast OOMs at 100×. AQE
    // converts to broadcast at runtime when the build side is actually small.
    e.filter(col("ts").between(ntz("2024-01-01 00:00:00"), ntz("2024-01-07 23:59:59")))
      .join(c.filter(col("c_mktsegment") === "BUILDING"),
        e("user_id") === c("c_custkey"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("c_name"))
      .orderBy(col("event_id"))
  }

  /** J9 scalar-subquery semi-join (query.go:167-191). */
  private def j9(spark: SparkSession, dir: String): DataFrame =
    Relational.semiJoin(
        Tables.lineitem(spark, dir), Tables.orders(spark, dir),
        "l_orderkey", "o_orderkey", col("o_custkey") === 421)
      .orderBy(liSort.take(5): _*)

  /** J10 missing-key anti-join — the gap detector the reference runs as a
    * per-candidate binary search (`app/block/syncer.go:21-37`). Distributed
    * form: candidate domain anti-join present keys. */
  private def j10(spark: SparkSession, dir: String): DataFrame =
    Relational.antiJoin(
        spark.range(0, 1000).toDF("user_id"),
        Tables.events(spark, dir), "user_id")
      .orderBy(col("user_id"))

  /** J10b: anti-join between two real tables — orders with no returned line. */
  private def j10b(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderkey").between(0, 1999))
      .join(Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
          .select(col("l_orderkey").as("o_orderkey")).distinct(),
        Seq("o_orderkey"), "left_anti")
      .select("o_orderkey")
      .orderBy(col("o_orderkey"))

  // ===== §2.5 aggregations, §2.6 top-K ===================================

  /** A1/A2/A3 min/max/count (query.go:33-74) in one pass. */
  private def a1(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).agg(
      min(col("o_orderkey")).as("min_key"),
      max(col("o_orderkey")).as("max_key"),
      count(lit(1)).as("n_rows"))

  /** A4/A5 filtered count (query.go:139-177). */
  private def a4(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).filter(col("l_orderkey") === 4242)
      .agg(count(lit(1)).as("n_rows"))

  /** A5 `GetTransactionCountByBlockNumber` (query.go:167-177): count over
    * the J9 scalar-subquery semi-join. */
  private def a5(spark: SparkSession, dir: String): DataFrame =
    Relational.semiJoin(
        Tables.lineitem(spark, dir), Tables.orders(spark, dir),
        "l_orderkey", "o_orderkey", col("o_custkey") === 421)
      .agg(count(lit(1)).as("n_rows"))

  /** A6 ranged-join count (query.go:206-216 and twins). */
  private def a6(spark: SparkSession, dir: String): DataFrame =
    Relational.factJoinDim(
        Tables.lineitem(spark, dir), Tables.orders(spark, dir),
        "l_orderkey", "o_orderkey",
        col("l_suppkey") === 5, col("o_orderkey").between(1000, 4999))
      .agg(count(lit(1)).as("n_rows"))

  /** T2 `GetLastXEventsFromContract` (query.go:567-586): top-K recent. */
  private def t2(spark: SparkSession, dir: String): DataFrame =
    Relational.topK(
        Tables.events(spark, dir).filter(col("user_id") === 42),
        50, col("ts").desc, col("event_id").desc)

  // ===== beyond-reference: grouped analytics (free on Spark) =============

  /** TPC-H Q1-shaped grouped aggregate. The reference has no GROUP BY at
    * all (SURVEY §2.5) — this is the first capability the Spark engine adds.
    * Decimal-cast inputs keep the sums exact and order-independent so the
    * oracle comparison is bit-stable. */
  private def g1GroupbyAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= ntz("1998-09-02 00:00:00"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        // Sums run in exact decimal (order-independent across partitions);
        // the single final cast to DOUBLE is deterministic and hashes
        // identically under every canonicalizer — decimal *output* types
        // canonicalized differently between the driver gate and DuckDB in
        // round 1 (VERDICT "What's wrong" #1).
        sum(dec(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast(DoubleType).as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
          .cast(DoubleType).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Grouped top-N: revenue by customer over a date range (join + groupBy +
    * global top-K). Covers the "analytics engine" surface beyond parity. */
  private def g2(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate").between(ntz("1996-01-01 00:00:00"), ntz("1996-12-31 23:59:59")))
    val li = Tables.lineitem(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
        .cast(DoubleType).as("revenue"))
      .orderBy(col("revenue").desc, col("o_custkey"))
      .limit(25)
  }

  /** G3 as-of attribution ([[graft.operators.AsOfJoin]]): every event
    * carries the same user's most recent purchase at-or-before it — the
    * "enrich against latest earlier state" shape. The oracle is DuckDB's
    * NATIVE `ASOF LEFT JOIN`, an independent implementation of the
    * semantics, so inclusive ties, unmatched-null, and winner selection
    * are all cross-checked engine-to-engine. */
  private def g3(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    graft.operators.AsOfJoin.asOf(e, purchases, Seq("user_id"), "ts", "ts",
        rightPrefix = "p_")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("p_event_id"), col("p_ts"), col("p_value"))
      .orderBy(col("event_id"))
  }

  /** G3b: the same attribution through [[AsOfJoin.asOfBucketed]], the
    * extreme-skew variant — (keys, time-bucket) partitioned carry with a
    * bucket-summary stitch. Same independent DuckDB `ASOF LEFT JOIN`
    * oracle as G3, so "identical output to plain asOf" is cross-checked
    * engine-to-engine, not just variant-to-variant. */
  private def g3b(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    graft.operators.AsOfJoin.asOfBucketed(e, purchases, Seq("user_id"),
        "ts", "ts", bucketSize = 6L * 3600L * 1000000L, rightPrefix = "p_")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("p_event_id"), col("p_ts"), col("p_value"))
      .orderBy(col("event_id"))
  }

  /** G4 range join ([[graft.operators.RangeJoin]]): click events landing
    * inside same-user 6-hour incident windows opened by error events
    * — one row per (click, window) pair, overlaps included. The oracle
    * replays the semantics as a plain inequality join (exact at sf0.01
    * scale), with both sides truncated to microseconds so the boundary
    * comparisons match Spark's timestamp precision by construction. */
  private def g4(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val incidents = e.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("incident_id"),
        col("ts").as("start_ts"),
        (col("ts") + expr("INTERVAL 6 HOURS")).as("end_ts"))
    graft.operators.RangeJoin.pointInInterval(clicks, incidents,
        Seq("user_id"), "ts", "start_ts", "end_ts",
        binSize = 21600L * 1000000L) // 6 h of microseconds ⇒ fanout ≤ 2
      .select(col("event_id"), col("user_id"), col("ts"),
        col("incident_id"), col("start_ts"))
      .orderBy(col("event_id"), col("incident_id"))
  }

  /** G5 interval-overlap join ([[RangeJoin.intervalOverlap]]): same-user
    * pairs of concurrent 6-hour windows — error-incident windows
    * overlapping signup-session windows. Exercises the first-shared-bin
    * count-once rule under many-bin overlaps. */
  private def g5(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    def windows(tpe: String, idAs: String, sAs: String, eAs: String) =
      e.filter(col("event_type") === tpe)
        .select(col("user_id"), col("event_id").as(idAs),
          col("ts").as(sAs), (col("ts") + expr("INTERVAL 6 HOURS")).as(eAs))
    graft.operators.RangeJoin.intervalOverlap(
        windows("error", "incident_id", "i_start", "i_end"),
        windows("signup", "signup_id", "s_start", "s_end"),
        Seq("user_id"), "i_start", "i_end", "s_start", "s_end",
        binSize = 21600L * 1000000L)
      .select(col("user_id"), col("incident_id"), col("i_start"),
        col("signup_id"), col("s_start"))
      .orderBy(col("incident_id"), col("signup_id"))
  }

  /** G6 exact percentiles: per-group median/p90 over lineitem quantity
    * via Spark's exact `percentile` aggregate — linear interpolation on
    * the sorted group, the same definition as DuckDB's `quantile_cont`,
    * so the oracle cross-checks the interpolation arithmetic
    * engine-to-engine (both in DOUBLE). */
  private def g6(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(CAST(l_quantity AS DOUBLE), 0.5)").as("p50_qty"),
        expr("percentile(CAST(l_quantity AS DOUBLE), 0.9)").as("p90_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** G7 rollup subtotals: revenue and row counts by (returnflag,
    * linestatus) with ROLLUP — per-pair rows, per-flag subtotals, and
    * the grand total in one pass (Spark plans a single aggregate over
    * grouping sets, not one job per level). Null grouping columns mark
    * subtotal rows in both engines; the oracle orders NULLS FIRST to
    * match Spark's asc default. The exact decimal sum ships as STRING:
    * at sf10 the grand total carries 16+ significant digits, past
    * double precision, where Spark's correctly-rounded BigDecimal cast
    * and DuckDB's int128-then-divide cast land one ulp apart — the
    * string of the exact scale-4 decimal is engine-independent at any
    * magnitude. */
  private def g7(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
          .cast(DecimalType(38, 4)).cast(StringType).as("revenue"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** J11 salted skew join ([[graft.operators.SkewJoin]]): the lineitem ⋈
    * orders equi-join salted 8 ways — the planned mitigation for a hot
    * join key. Salting only redistributes (probe rows tag a
    * deterministic salt, build rows replicate), so the result is
    * EXACTLY the plain join's multiset, which the oracle replays as a
    * plain inequality-free equi-join. */
  private def j11(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") <= 500)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"), col("o_orderdate"))
    graft.operators.SkewJoin.saltedJoin(li, o, Seq("l_orderkey"),
        saltBy = col("l_linenumber"), salt = 8)
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  // ===== registry ========================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = tpchQueries ++
    graft.queries.EvmQueries.queries ++ graft.queries.PipelineQueries.queries

  private def tpchQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_point_lookup_pk" -> (q01 _),
    "q02_point_lookup_dim" -> (q02 _),
    "q03_key_range_scan" -> (q03 _),
    "q04_time_range_scan" -> (q04 _),
    "q05_range_projection" -> (q05 _),
    "q06_fk_filter" -> (q06 _),
    "q07_conjunctive_lookup" -> (q07 _),
    "q08_events_by_origin" -> (q08 _),
    "q09_events_by_origin_type" -> (q09 _),
    "q10_composite_key_lookup" -> (q10 _),
    "q12_two_step_lookup" -> (q12 _),
    "q13_flag_filter" -> (q13 _),
    "j1_fact_dim_key_range" -> (j1 _),
    "j2_fact_dim_time_range" -> (j2 _),
    "j3_fact_dim_to_account" -> (j3 _),
    "j4_fact_dim_to_account_time" -> (j4 _),
    "j5_fact_dim_between_accounts" -> (j5 _),
    "j6_fact_dim_between_accounts_time" -> (j6 _),
    "j7_fact_dim_flagged" -> (j7 _),
    "j8_events_dim_enrich" -> (j8 _),
    "j9_semi_join" -> (j9 _),
    "j10_range_anti_join" -> (j10 _),
    "j10b_table_anti_join" -> (j10b _),
    "a1_global_min_max_count" -> (a1 _),
    "a4_filtered_count" -> (a4 _),
    "a5_semi_join_count" -> (a5 _),
    "a6_join_count" -> (a6 _),
    "t2_topk_recent" -> (t2 _),
    "g1_groupby_agg" -> (g1GroupbyAgg _),
    "g2_grouped_topn" -> (g2 _),
    "g3_asof_attribution" -> (g3 _),
    "g3b_asof_bucketed" -> (g3b _),
    "g4_range_join" -> (g4 _),
    "g5_interval_overlap" -> (g5 _),
    "g6_percentiles" -> (g6 _),
    "g7_rollup" -> (g7 _),
    "j11_salted_join" -> (j11 _),
  )

  def oracleSql: Map[String, String] = tpchOracleSql ++
    graft.queries.EvmQueries.oracleSql ++ graft.queries.PipelineQueries.oracleSql

  /** Oracle overrides applied by [[Verify.dump]] on SMALL fixtures only:
    * fully-independent (no artifact replay) derivations that are
    * quadratic in SQL and therefore infeasible at sf10. */
  def oracleSqlSmallSf: Map[String, String] =
    graft.queries.PipelineQueries.oracleSqlSmallSf

  /** The sorted names of a comma-separated entry list (the optional
    * argument of [[Bench]], [[Verify]] and `tools.Profile`), or of every
    * entry when there is none. An unknown name fails instead of running
    * a smaller set than asked for. */
  def select(list: Option[String]): Seq[String] = {
    val all = queries.keySet
    list.fold(all.toSeq.sorted) { l =>
      val names = l.split(',').map(_.trim).filter(_.nonEmpty).toSeq.distinct.sorted
      val unknown = names.filterNot(all)
      require(unknown.isEmpty, s"unknown registry entries: ${unknown.mkString(",")}")
      names
    }
  }

  private def tpchOracleSql: Map[String, String] = Map(
    "q01_point_lookup_pk" ->
      "SELECT * FROM orders WHERE o_orderkey = 4242",
    "q02_point_lookup_dim" ->
      "SELECT * FROM part WHERE p_partkey = 999",
    "q03_key_range_scan" ->
      "SELECT * FROM orders WHERE o_orderkey BETWEEN 100 AND 199 ORDER BY o_orderkey",
    "q04_time_range_scan" ->
      ("SELECT * FROM orders WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' " +
        "AND TIMESTAMP '1996-01-31 23:59:59' ORDER BY o_orderkey"),
    "q05_range_projection" ->
      "SELECT o_orderkey FROM orders WHERE o_orderkey BETWEEN 100 AND 299 ORDER BY o_orderkey",
    "q06_fk_filter" ->
      ("SELECT * FROM lineitem WHERE l_orderkey = 4242 " +
        "ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity"),
    "q07_conjunctive_lookup" ->
      ("SELECT * FROM lineitem WHERE l_suppkey = 7 AND l_linenumber = 5 " +
        "ORDER BY l_orderkey, l_partkey, l_quantity, l_extendedprice"),
    "q08_events_by_origin" ->
      "SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events WHERE user_id = 42 ORDER BY event_id",
    "q09_events_by_origin_type" ->
      "SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events WHERE user_id = 42 AND event_type = 'purchase' ORDER BY event_id",
    "q10_composite_key_lookup" ->
      ("SELECT * FROM lineitem WHERE l_orderkey = 12 AND l_linenumber = 5 " +
        "ORDER BY l_partkey, l_suppkey, l_quantity"),
    "q12_two_step_lookup" ->
      ("SELECT * FROM lineitem WHERE l_orderkey IN " +
        "(SELECT o_orderkey FROM orders WHERE o_orderdate = TIMESTAMP '1997-06-15 00:00:00') " +
        "ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity"),
    "q13_flag_filter" ->
      ("SELECT * FROM lineitem WHERE l_returnflag = 'R' AND l_orderkey BETWEEN 0 AND 999 " +
        "ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity"),
    "j1_fact_dim_key_range" ->
      ("SELECT l_orderkey, l_linenumber, l_suppkey, l_partkey, l_quantity, l_extendedprice, o_orderdate " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE l_suppkey = 5 AND o_orderkey BETWEEN 1000 AND 4999 " +
        "ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice"),
    "j2_fact_dim_time_range" ->
      ("SELECT l_orderkey, l_linenumber, l_suppkey, l_partkey, l_quantity, l_extendedprice, o_orderdate " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE l_suppkey = 5 AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1996-06-30 23:59:59' " +
        "ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice"),
    "j3_fact_dim_to_account" ->
      ("SELECT l_orderkey, l_linenumber, l_suppkey, l_partkey, l_quantity, l_extendedprice, o_orderdate " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE l_partkey = 77 AND o_orderkey BETWEEN 0 AND 9999 " +
        "ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice"),
    "j4_fact_dim_to_account_time" ->
      ("SELECT l_orderkey, l_linenumber, l_suppkey, l_partkey, l_quantity, l_extendedprice, o_orderdate " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE l_partkey = 77 AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00' AND TIMESTAMP '1996-12-31 23:59:59' " +
        "ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice"),
    "j6_fact_dim_between_accounts_time" ->
      ("SELECT l_orderkey, l_linenumber, l_suppkey, l_partkey, l_quantity, l_extendedprice, o_orderdate " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE l_suppkey = 5 AND l_partkey BETWEEN 0 AND 1999 " +
        "AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00' AND TIMESTAMP '1996-12-31 23:59:59' " +
        "ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice"),
    "j5_fact_dim_between_accounts" ->
      ("SELECT l_orderkey, l_linenumber, l_suppkey, l_partkey, l_quantity, l_extendedprice, o_orderdate " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE l_suppkey = 5 AND l_partkey BETWEEN 0 AND 999 AND o_orderkey BETWEEN 0 AND 9999 " +
        "ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice"),
    "j7_fact_dim_flagged" ->
      ("SELECT l_orderkey, l_linenumber, l_suppkey, l_partkey, l_quantity, l_extendedprice, o_orderdate " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE l_suppkey = 5 AND l_returnflag = 'R' AND o_orderkey BETWEEN 0 AND 9999 " +
        "ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice"),
    "j8_events_dim_enrich" ->
      ("SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, c_name " +
        "FROM events JOIN customer ON user_id = c_custkey " +
        "WHERE c_mktsegment = 'BUILDING' AND ts BETWEEN TIMESTAMP '2024-01-01 00:00:00' AND TIMESTAMP '2024-01-07 23:59:59' " +
        "ORDER BY event_id"),
    "j9_semi_join" ->
      ("SELECT * FROM lineitem WHERE l_orderkey IN " +
        "(SELECT o_orderkey FROM orders WHERE o_custkey = 421) " +
        "ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity"),
    "j10_range_anti_join" ->
      ("SELECT id AS user_id FROM generate_series(0, 999) t(id) " +
        "WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = t.id) ORDER BY user_id"),
    "j10b_table_anti_join" ->
      ("SELECT o_orderkey FROM orders WHERE o_orderkey BETWEEN 0 AND 1999 AND NOT EXISTS " +
        "(SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R') " +
        "ORDER BY o_orderkey"),
    "a1_global_min_max_count" ->
      ("SELECT CAST(min(o_orderkey) AS BIGINT) AS min_key, CAST(max(o_orderkey) AS BIGINT) AS max_key, " +
        "CAST(count(*) AS BIGINT) AS n_rows FROM orders"),
    "a4_filtered_count" ->
      "SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem WHERE l_orderkey = 4242",
    "a5_semi_join_count" ->
      ("SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem WHERE l_orderkey IN " +
        "(SELECT o_orderkey FROM orders WHERE o_custkey = 421)"),
    "a6_join_count" ->
      ("SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE l_suppkey = 5 AND o_orderkey BETWEEN 1000 AND 4999"),
    "t2_topk_recent" ->
      "SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events WHERE user_id = 42 ORDER BY ts DESC, event_id DESC LIMIT 50",
    "g1_groupby_agg" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price, " +
        "CAST(count(*) AS BIGINT) AS count_order " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    "g2_grouped_topn" ->
      ("SELECT o_custkey, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1996-12-31 23:59:59' " +
        "GROUP BY o_custkey ORDER BY revenue DESC, o_custkey LIMIT 25"),
    "g3_asof_attribution" ->
      ("SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts, e.event_type, " +
        "p.event_id AS p_event_id, CAST(p.ts AS TIMESTAMP) AS p_ts, p.value AS p_value " +
        "FROM events e ASOF LEFT JOIN " +
        "(SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase') p " +
        "ON e.user_id = p.user_id AND e.ts >= p.ts " +
        "ORDER BY e.event_id"),
    "g3b_asof_bucketed" ->
      ("SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts, e.event_type, " +
        "p.event_id AS p_event_id, CAST(p.ts AS TIMESTAMP) AS p_ts, p.value AS p_value " +
        "FROM events e ASOF LEFT JOIN " +
        "(SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase') p " +
        "ON e.user_id = p.user_id AND e.ts >= p.ts " +
        "ORDER BY e.event_id"),
    "g4_range_join" ->
      ("SELECT c.event_id, c.user_id, c.ts, i.incident_id, i.start_ts " +
        "FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'click') c " +
        "JOIN (SELECT user_id, event_id AS incident_id, CAST(ts AS TIMESTAMP) AS start_ts FROM events WHERE event_type = 'error') i " +
        "ON c.user_id = i.user_id AND c.ts >= i.start_ts AND c.ts < i.start_ts + INTERVAL 6 HOUR " +
        "ORDER BY c.event_id, i.incident_id"),
    "g5_interval_overlap" ->
      ("SELECT i.user_id, i.incident_id, i.i_start, s.signup_id, s.s_start " +
        "FROM (SELECT user_id, event_id AS incident_id, CAST(ts AS TIMESTAMP) AS i_start, CAST(ts AS TIMESTAMP) + INTERVAL 6 HOUR AS i_end FROM events WHERE event_type = 'error') i " +
        "JOIN (SELECT user_id, event_id AS signup_id, CAST(ts AS TIMESTAMP) AS s_start, CAST(ts AS TIMESTAMP) + INTERVAL 6 HOUR AS s_end FROM events WHERE event_type = 'signup') s " +
        "ON i.user_id = s.user_id AND i.i_start < s.s_end AND s.s_start < i.i_end " +
        "ORDER BY i.incident_id, s.signup_id"),
    "g6_percentiles" ->
      ("SELECT l_returnflag, " +
        "quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS p50_qty, " +
        "quantile_cont(CAST(l_quantity AS DOUBLE), 0.9) AS p90_qty, " +
        "CAST(count(*) AS BIGINT) AS n " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "g7_rollup" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,4)) AS VARCHAR) AS revenue, " +
        "CAST(count(*) AS BIGINT) AS n " +
        "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus) " +
        "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"),
    "j11_salted_join" ->
      ("SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, o.o_custkey, o.o_orderdate " +
        "FROM (SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_orderkey <= 500) l " +
        "JOIN orders o ON l.l_orderkey = o.o_orderkey " +
        "ORDER BY l.l_orderkey, l.l_linenumber"),
  )
}
