package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** General relational/analytic queries over the TPC-H-ish testdata plus
  * the `events` table — aggregation, broadcast joins, window functions,
  * time bucketing, sessionization, JSON extraction.
  *
  * Determinism rules shared with the DuckDB oracle:
  *  - money sums are per-row-rounded integer cents (`round(x*100)` then
  *    bigint sum) — exact and order-independent in both engines;
  *  - timestamps surface as epoch milliseconds (bigint), never as
  *    engine-native timestamp types;
  *  - every output has a total explicit ordering.
  */
object Relational {

  private def cents(c: String): org.apache.spark.sql.Column =
    round(col(c) * 100).cast("long")

  /** TPC-H Q1-shaped pricing summary: filter → partial/final hash agg →
    * sort. One shuffle on the two 2-value group keys; AQE coalesces.
    */
  def q1Pricing(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") <= lit("1998-09-02"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_quantity").cast("long").as("qty"),
        cents("l_extendedprice").as("price_c"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long").as("disc_price_c"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax")) * 100).cast("long").as("charge_c"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("qty").as("sum_qty"),
        sum("price_c").as("sum_base_cents"),
        sum("disc_price_c").as("sum_disc_cents"),
        sum("charge_c").as("sum_charge_cents"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** TPC-H Q3-shaped top-10 revenue: two joins with the small sides
    * broadcast (customer segment filter, then orders) — at scale the
    * only shuffle is the lineitem aggregation on l_orderkey.
    */
  def q3Revenue(spark: SparkSession, dir: String, segment: String = "BUILDING"): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .where(col("c_mktsegment") === segment).select("c_custkey")
    val ord = Tables.orders(spark, dir)
      .where(col("o_orderdate") < lit("1995-09-15"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(spark, dir)
      .where(col("l_shipdate") > lit("1995-03-15"))
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long").as("rev_c"))
    li.join(broadcast(ord.join(broadcast(cust),
        col("o_custkey") === col("c_custkey"))),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey")
      .agg(sum("rev_c").as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Window-function query: top-3 orders per customer by total price
    * (row_number over partition, double *ordering* only — no float
    * arithmetic, so deterministic).
    */
  def topOrdersPerCustomer(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val win = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(win).cast("long"))
      .where(col("rn") <= k)
      .select(col("o_custkey"), col("o_orderkey"), col("rn"),
        cents("o_totalprice").as("totalprice_cents"))
      .orderBy("o_custkey", "rn")
  }

  def eventsTumbling(spark: SparkSession, dir: String): DataFrame =
    tumbling(Tables.events(spark, dir), 600)

  /** Tumbling-window event counts: fixed-width buckets as epoch seconds
    * (bigint — identical bucketing arithmetic in both engines).
    */
  def tumbling(events: DataFrame, widthSec: Long): DataFrame =
    events
      .select(expr(s"(ts_ms div ${widthSec * 1000}) * $widthSec")
          .as("bucket_start"),
        col("event_type"),
        cents("value").as("value_c"))
      .groupBy("bucket_start", "event_type")
      .agg(count(lit(1)).as("n_events"), sum("value_c").as("sum_value_cents"))
      .orderBy("bucket_start", "event_type")

  /** Sessionization: per-user sessions split on inactivity gaps >
    * `gapSec`; emits per-session stats. Single shuffle on user_id; the
    * session assignment is a running sum over lag — no state kept on
    * the driver, scales with users × events/user.
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame =
    sessions(Tables.events(spark, dir), 1800)

  def sessions(events: DataFrame, gapSec: Long): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    events
      .select(col("user_id"), col("event_id"), col("ts_ms"))
      .withColumn("prev_ms", lag("ts_ms", 1).over(byUser))
      .withColumn("is_new", when(col("prev_ms").isNull ||
        (col("ts_ms") - col("prev_ms") > gapSec * 1000), 1L).otherwise(0L))
      .withColumn("session_id", sum("is_new").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min("ts_ms").as("start_ms"), max("ts_ms").as("end_ms"))
      .orderBy("user_id", "session_id")
  }

  /** TPC-H Q5-shaped local-supplier revenue: five joins. Dimension
    * chain region→nation and the 10-row supplier table broadcast; the
    * only real shuffles are lineitem⋈orders and the final aggregation.
    * Catalyst reorders/plans the join tree; we only hint broadcasts.
    */
  def q5LocalSupplierRevenue(spark: SparkSession, dir: String,
                             region: String = "ASIA"): DataFrame = {
    val nat = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir)
        .where(col("r_name") === region)), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
    val sup = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long").as("rev_c"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy("n_name")
      .agg(sum("rev_c").as("revenue_cents"), count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  /** TPC-H Q6-shaped forecast-revenue filter: pure scan + filter +
    * single-row aggregate — the pushdown stress test (every predicate
    * must reach the parquet reader; no shuffle at all besides the
    * final 1-row combine).
    */
  def q6Forecast(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01") &&
        col("l_discount").between(0.03, 0.07) &&
        col("l_quantity") < 24)
      .agg(sum(round(col("l_extendedprice") * col("l_discount") * 100).cast("long"))
          .as("revenue_cents"),
        count(lit(1)).as("n_items"))

  /** TPC-H Q18-shaped large-order customers: aggregate-then-filter
    * (HAVING) with a join back to the dimension — the two-phase
    * "find heavy groups, then enrich" shape.
    */
  def q18LargeOrders(spark: SparkSession, dir: String, minQty: Long = 150): DataFrame = {
    val heavy = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
      .where(col("total_qty") >= minQty)
    heavy
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir).select("c_custkey", "c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_orderkey").as("orderkey"), col("total_qty"))
      .orderBy(col("total_qty").desc, col("orderkey"))
  }

  /** TPC-H Q4-shaped order-priority check: count orders having at
    * least one line shipped more than `lateDays` after the order date —
    * EXISTS as a left-semi join (equi on orderkey + a residual range
    * predicate); the probe never duplicates order rows, and only the
    * two key/date columns of lineitem are scanned.
    */
  def q4OrderPriority(spark: SparkSession, dir: String, lateDays: Int = 30): DataFrame = {
    // the testdata timestamps are NTZ, so day arithmetic is fixed
    // 24h-per-day — identical to the oracle's epoch-ms form
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
      .join(li, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $lateDays DAY"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q10-shaped returned-item losers: top-20 customers by revenue
    * on returned lineitems. Revenue is the exact integer product
    * price_cents × (1−discount)_cents (order-independent, no float
    * summation); the customer dimension broadcasts.
    */
  def q10ReturnedCustomers(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .where(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (round(col("l_extendedprice") * 100).cast("long") *
          round((lit(1) - col("l_discount")) * 100).cast("long")).as("rev_c4"))
    li.join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir).select("c_custkey", "c_name")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name")
      .agg(sum("rev_c4").as("revenue_c4"))
      .orderBy(col("revenue_c4").desc, col("c_custkey"))
      .limit(k)
  }

  /** TPC-H Q14-shaped promo-revenue share: one broadcast join + one
    * single-row conditional aggregate. The share is surfaced as the
    * exact integer pair (promo, total) in cents² — the caller divides;
    * emitting the float ratio would make the result summation-order
    * dependent.
    */
  def q14PromoShare(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        (round(col("l_extendedprice") * 100).cast("long") *
          round((lit(1) - col("l_discount")) * 100).cast("long")).as("rev_c4"))
      .join(broadcast(Tables.part(spark, dir).select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg(sum(when(col("p_type").startsWith("PROMO"), col("rev_c4"))
          .otherwise(0L)).as("promo_c4"),
        sum("rev_c4").as("total_c4"))

  /** Event-type transition matrix (Markov edges): lag over each user's
    * event sequence, then count (prev → next) pairs, top-k. One shuffle
    * on user_id for the lag, one on the pair for the count — the
    * standard path-analysis primitive at any scale.
    */
  def eventTransitions(events: DataFrame, k: Int = 20): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    events
      .select(col("user_id"), col("event_id"), col("ts_ms"), col("event_type"))
      .withColumn("prev_type", lag("event_type", 1).over(byUser))
      .where(col("prev_type").isNotNull)
      .groupBy("prev_type", "event_type")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("prev_type"), col("event_type"))
      .limit(k)
  }

  /** Stationary distribution of the event-type Markov chain by power
    * iteration, in exact scaled integers. The transition matrix is
    * row-normalized to ppm (`cnt·10⁶ div row_total`); mass starts
    * uniform and each round redistributes
    * `Σ_s (mass(s)·p_ppm(s→t)) div 10⁶` — per-term floor, so the fold
    * is bit-identical to the unrolled SQL oracle. Truncation bleeds a
    * few ppm of total mass per round (documented, deterministic); no
    * renormalization.
    *
    * Scale shape: the chain state is |event_types| rows and the matrix
    * |types|² — both tiny BY CONTRACT however large the event log; the
    * only data-sized work is the one lag + one pair-count shuffle that
    * builds the matrix (shared with [[eventTransitions]]). Iterations
    * are broadcast joins over the tiny frames, each lazily
    * [[Iterate.materialize]]d to keep the plan flat.
    */
  def markovStationary(events: DataFrame, iters: Int = 15): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    val trans = events
      .select(col("user_id"), col("event_id"), col("ts_ms"), col("event_type"))
      .withColumn("prev_type", lag("event_type", 1).over(byUser))
      .where(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val p = trans
      .join(trans.groupBy("prev_type").agg(sum("cnt").as("tot")), "prev_type")
      .select(col("prev_type"), col("next_type"),
        expr("(cnt * 1000000L) div tot").as("p_ppm"))
      .localCheckpoint()
    val types = events.select(col("event_type")).distinct().localCheckpoint()
    var mass = Iterate.materialize(types
      .crossJoin(broadcast(types.agg(count(lit(1)).as("n_types"))))
      .select(col("event_type"),
        expr("1000000L div n_types").as("mass_ppm")))
    for (_ <- 1 to iters) {
      // LAZY checkpoint (r16): the next round's broadcast build is the
      // materializing action — the eager form paid one extra job per
      // iteration (60 jobs for 15 rounds on a |types|-row frame; the
      // tiny-jobs class pays per-job fixed overhead, VERDICT r14 #3).
      // The checkpoint still caps plan depth at one round. No action
      // runs inside the loop (the caller's action materializes every
      // round), so no round can be released here and the loop keeps
      // its own shape instead of an Iterate form.
      mass = Iterate.materialize(p.join(broadcast(mass),
          p("prev_type") === mass("event_type"))
        .groupBy(col("next_type").as("event_type"))
        .agg(sum(expr("(mass_ppm * p_ppm) div 1000000L")).as("mass_ppm")),
        eager = false)
    }
    mass.orderBy("event_type")
  }

  /** Benford first-significant-digit audit over order totals — the
    * classic fraud/data-quality screen. Exact digit extraction: cents
    * as BIGINT → first character of its decimal string (no float log),
    * observed share in ppm vs the Benford expectation (log₁₀(1+1/d),
    * pre-scaled literal constants shared with the oracle).
    *
    * Scale shape: one scan, one 9-row groupBy; the total is a 1-row
    * broadcast. O(1) output rows at any input size.
    */
  def benfordAudit(orders: DataFrame): DataFrame = {
    val counts = orders
      .select(substring(expr(
          "CAST(round(o_totalprice * 100) AS BIGINT)").cast("string"), 1, 1)
        .cast("long").as("first_digit"))
      .groupBy("first_digit").agg(count(lit(1)).as("n"))
    counts
      .crossJoin(broadcast(counts.agg(sum("n").as("tot"))))
      .withColumn("obs_ppm", expr("(n * 1000000L) div tot"))
      .withColumn("exp_ppm", expr(s"element_at(map($BenfordPpm), " +
        "CAST(first_digit AS INT))").cast("long"))
      .select(col("first_digit"), col("n"), col("obs_ppm"), col("exp_ppm"),
        abs(col("obs_ppm") - col("exp_ppm")).as("dev_ppm"))
      .orderBy("first_digit")
  }

  /** log₁₀(1+1/d) in ppm for d = 1..9 — the single source both the
    * Spark map literal and the oracle's VALUES table derive from.
    */
  val BenfordTable: Seq[(Int, Int)] = Seq(
    1 -> 301030, 2 -> 176091, 3 -> 124939, 4 -> 96910, 5 -> 79181,
    6 -> 66947, 7 -> 57992, 8 -> 51153, 9 -> 45757)

  private val BenfordPpm: String =
    BenfordTable.map { case (d, p) => s"$d,$p" }.mkString(", ")

  /** Per-value-bin error lift (WOE-style feature screen without the
    * log): events binned by integer cents div 5000 (≈ $50 buckets —
    * fixed-width, shuffle-light, no global ntile sort), per bin the
    * error rate in ppm and its lift vs the corpus rate (ppm of ppm).
    * All arithmetic in scaled integers; the global rate is a 1-row
    * broadcast.
    */
  def valueBinLift(events: DataFrame): DataFrame = {
    val binned = events.select(
      expr("CAST(round(value * 100) AS BIGINT) div 5000L").as("bin"),
      when(col("event_type") === "error", 1L).otherwise(0L).as("is_err"))
    val per = binned.groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("is_err").as("n_err"))
    per
      .crossJoin(broadcast(per.agg(sum("n").as("tot"),
        sum("n_err").as("tot_err"))))
      .select(col("bin"), col("n"), col("n_err"),
        expr("(n_err * 1000000L) div n").as("err_ppm"),
        // greatest(1, ·) guards the zero-error corpus: both engines
        // then report lift vs a 1-ppm floor instead of diverging
        // (Spark NULL vs DuckDB division-by-zero error)
        expr("((n_err * 1000000L) div n) * 1000000L div " +
          "greatest(1L, (tot_err * 1000000L) div tot)").as("lift_ppm"))
      .orderBy("bin")
  }

  /** Peak concurrent open orders by sweep line: an order is "open"
    * from its order date to its last line's ship date; +1/−1 deltas at
    * the boundaries, net delta per day, then a running sum gives the
    * concurrency at every change point — the classic interval-overlap
    * aggregation without any interval self-join.
    *
    * Scale shape: the data-sized work is one join (order → max
    * shipdate) and one groupBy on day; the cumulative window then runs
    * over the DELTA DAYS ONLY — a date-domain-sized frame (thousands of
    * rows however many orders), so the single-partition running sum is
    * bounded by the calendar, not the data. An interval self-join
    * formulation would be O(n²) in overlapping orders; the sweep is
    * O(n) + O(#days log #days).
    */
  def ordersConcurrency(orders: DataFrame, lineitem: DataFrame,
                        k: Int = 10): DataFrame = {
    val closed = lineitem.groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(max(expr("unix_millis(cast(l_shipdate as timestamp)) div 86400000"))
        .as("close_day"))
    val spans = orders.select(col("o_orderkey"),
        expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
          .as("open_day"))
      .join(closed, "o_orderkey")
    val net = spans.select(col("open_day").as("epoch_day"), lit(1L).as("delta"))
      .unionByName(spans.select((col("close_day") + 1).as("epoch_day"),
        lit(-1L).as("delta")))
      .groupBy("epoch_day").agg(sum("delta").as("net"))
    net.withColumn("n_open", sum("net").over(Window.orderBy("epoch_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("epoch_day", "n_open")
      .orderBy(col("n_open").desc, col("epoch_day"))
      .limit(k)
  }

  /** Two-sample Kolmogorov–Smirnov drift statistic between the value
    * distributions of two event types — the distribution-shift monitor
    * a training pipeline runs before trusting a new data slice. Exact
    * scaled integers end to end: values in cents, both empirical CDFs
    * in ppm over the merged support, D = max |F_a − F_b| with the
    * smallest attaining value reported.
    *
    * Scale shape: the event-sized work is one groupBy on the cent
    * value; the CDF window then runs over the DISTINCT SUPPORT only —
    * bounded by the value domain (≤ ~50k cent points here), not the
    * event count, so the ordered running sum never sees data-sized
    * input. Totals ride a 1-row broadcast.
    */
  def ksDrift(events: DataFrame, typeA: String = "click",
              typeB: String = "view"): DataFrame = {
    val per = events.where(col("event_type").isin(typeA, typeB))
      .select(expr("CAST(round(value * 100) AS BIGINT)").as("v"),
        when(col("event_type") === typeA, 1L).otherwise(0L).as("ia"),
        when(col("event_type") === typeB, 1L).otherwise(0L).as("ib"))
      .groupBy("v").agg(sum("ia").as("na_v"), sum("ib").as("nb_v"))
    val cdfW = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per.select(col("v"), sum("na_v").over(cdfW).as("ca"),
        sum("nb_v").over(cdfW).as("cb"))
      .crossJoin(broadcast(per.agg(sum("na_v").as("n_a"),
        sum("nb_v").as("n_b"))))
      .select(col("v").as("at_cents"), col("n_a"), col("n_b"),
        abs(expr("(ca * 1000000L) div n_a") -
          expr("(cb * 1000000L) div n_b")).as("d_ppm"))
      .orderBy(col("d_ppm").desc, col("at_cents"))
      .limit(1)
  }

  /** Additive seasonal decomposition of the daily event count, exact
    * integers throughout: trend = centered 7-day moving average ×1000
    * (rows-framed over the distinct-day series, only days with a full
    * window), detrended = count×1000 − trend, seasonal index = mean
    * detrended per day-of-week (epoch_day mod 7 — calendar-free, so
    * both engines agree bit for bit).
    *
    * Scale shape: one data-sized groupBy (events → daily counts); the
    * moving average and the DOW rollup run over the DATE-DOMAIN-sized
    * day series (thousands of rows at any corpus size). Output is 7
    * rows.
    */
  def seasonalDecompose(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(expr("ts_ms div 86400000").as("epoch_day"))
      .agg(count(lit(1)).as("n"))
    val ma = Window.orderBy("epoch_day").rowsBetween(-3, 3)
    daily
      .withColumn("wn", count(lit(1)).over(ma))
      .withColumn("wsum", sum(col("n") * lit(1000L)).over(ma))
      .withColumn("trend_x1000", expr("wsum div 7L"))
      .where(col("wn") === 7)
      .select(pmod(col("epoch_day"), lit(7L)).as("dow"),
        (col("n") * 1000L - col("trend_x1000")).as("detr"))
      .groupBy("dow")
      .agg(count(lit(1)).as("n_days"),
        expr("sum(detr) div count(1)").as("seasonal_x1000"))
      .orderBy("dow")
  }

  /** Longest consecutive-day activity streak per user — the
    * gaps-and-islands idiom: distinct active days, `day − rank` is
    * constant within an island, longest island per user, top-k users.
    * Scale shape: everything partitions by user (window + groupBy on
    * the same key → ONE exchange chain); no self-join on the lattice.
    */
  def userStreaks(events: DataFrame, k: Int = 20): DataFrame = {
    val days = events
      .select(col("user_id"), expr("ts_ms div 86400000").as("epoch_day"))
      .distinct()
    val byUser = Window.partitionBy("user_id").orderBy("epoch_day")
    days
      .withColumn("island",
        col("epoch_day") - row_number().over(byUser).cast("long"))
      .groupBy("user_id", "island").agg(count(lit(1)).as("len"))
      .groupBy("user_id").agg(max("len").as("best_streak"))
      .orderBy(col("best_streak").desc, col("user_id"))
      .limit(k)
  }

  /** Debounce accounting: an event is KEPT if it is the first of its
    * (user, type) stream or arrived more than `gapMs` after the
    * previous kept-or-dropped event of that stream (lag-based — the
    * stateless approximation every log pipeline uses; true
    * last-kept-event debounce needs a running fold and is the
    * streaming variant's job). Output: per type, kept vs dropped.
    * Scale shape: one user/type-keyed window, one tiny rollup.
    */
  def debounceStats(events: DataFrame, gapMs: Long = 5000L): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy("ts_ms", "event_id")
    events
      .select(col("user_id"), col("event_type"), col("ts_ms"),
        col("event_id"))
      .withColumn("prev_ts", lag("ts_ms", 1).over(w))
      .select(col("event_type"),
        (col("prev_ts").isNull ||
          col("ts_ms") - col("prev_ts") > gapMs).as("kept"))
      .groupBy("event_type")
      .agg(sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"))
      .orderBy("event_type")
  }

  /** EXACT global median (k-th smallest, k = (n+1) div 2) in TWO
    * passes and zero global sorts — the scalable exact-selection
    * pattern: pass 1 counts per coarse bucket and walks the
    * domain-sized cumulative histogram to the bucket holding the k-th
    * value; pass 2 re-aggregates ONLY that bucket's values and walks
    * to the exact cent. A sort-based median moves the whole column
    * through one ordering; this moves two small histograms.
    */
  def exactMedian2Pass(events: DataFrame): DataFrame = {
    val cents = events.select(expr("CAST(round(value * 100) AS BIGINT)")
      .as("v"))
    val cum = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bucket = cents.groupBy(expr("v div 1000L").as("b"))
      .agg(count(lit(1)).as("nb"))
      .withColumn("cumb", sum("nb").over(cum))
      .crossJoin(broadcast(cents.agg(count(lit(1)).as("n"))))
      .where(col("cumb") >= expr("(n + 1L) div 2L") &&
        col("cumb") - col("nb") < expr("(n + 1L) div 2L"))
      .select(col("b"), col("n"),
        (expr("(n + 1L) div 2L") - (col("cumb") - col("nb"))).as("k_in_b"))
    val cumv = Window.partitionBy("n").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cents.join(broadcast(bucket), expr("v div 1000L") === col("b"))
      .groupBy("v", "n", "k_in_b").agg(count(lit(1)).as("nv"))
      .withColumn("cumv", sum("nv").over(cumv))
      .where(col("cumv") >= col("k_in_b") &&
        col("cumv") - col("nv") < col("k_in_b"))
      .select(col("n"), col("v").as("median_cents"))
  }

  /** Herfindahl–Hirschman concentration of supplier revenue per
    * nation: revenue share in ppm per supplier, HHI = Σ share² div 10⁶
    * (0..10⁶ scale). The market-concentration screen, exact integers.
    * Scale shape: one revenue rollup per supplier (data-sized), then
    * supplier-sized frames only; per-nation totals via one more tiny
    * groupBy, joined back broadcast.
    */
  def supplierHerfindahl(lineitem: DataFrame, supplier: DataFrame): DataFrame = {
    val rev = lineitem
      .groupBy(col("l_suppkey").as("s_suppkey"))
      .agg(sum(expr(
        "CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"))
        .as("rev_c"))
      .join(supplier.select(col("s_suppkey"), col("s_nationkey")), "s_suppkey")
    rev
      .join(broadcast(rev.groupBy("s_nationkey")
        .agg(sum("rev_c").as("tot_c"))), "s_nationkey")
      .select(col("s_nationkey"),
        expr("(rev_c * 1000000L) div tot_c").as("share_ppm"))
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_suppliers"),
        expr("sum(share_ppm * share_ppm) div 1000000L").as("hhi"))
      .orderBy("s_nationkey")
  }

  /** 2-D skyline (Pareto frontier) of part sizes vs price, minimizing
    * both: for each size the cheapest retail price, then a size
    * survives iff no smaller size is at least as cheap — the cummin
    * walk over the SIZE DOMAIN. The domain reduction is the scalable
    * move: the data-sized work is one groupBy on size; the frontier
    * scan touches ≤ |size domain| rows (≤ 50 here) however many parts
    * exist. A general continuous-attribute skyline would grid one
    * dimension first to reach this same shape.
    */
  def partsSkyline(part: DataFrame): DataFrame = {
    val per = part.groupBy(col("p_size").cast("long").as("p_size"))
      .agg(min(expr("CAST(round(p_retailprice * 100) AS BIGINT)"))
        .as("min_price_c"))
    val prior = Window.orderBy("p_size")
      .rowsBetween(Window.unboundedPreceding, -1)
    per.withColumn("prior_min", min("min_price_c").over(prior))
      .where(col("prior_min").isNull ||
        col("min_price_c") < col("prior_min"))
      .select("p_size", "min_price_c")
      .orderBy("p_size")
  }

  /** Exact percentile GRID (p25/50/75/90/99, rank = ⌈n·q/100⌉) through
    * the same two-histogram selection as [[exactMedian2Pass]], all
    * ranks located in ONE walk: the 5-row rank table joins the
    * domain-sized cumulative bucket histogram by range, then pass 2
    * re-aggregates only the ≤ 5 selected buckets, keyed by q. Still
    * zero global sorts over data-sized input.
    */
  def exactPercentiles2Pass(events: DataFrame,
                            qs: Seq[Int] = Seq(25, 50, 75, 90, 99)): DataFrame = {
    val cents = events.select(expr("CAST(round(value * 100) AS BIGINT)")
      .as("v"))
    val ks = cents.agg(count(lit(1)).as("n"))
      .select(explode(array(qs.map(q => lit(q.toLong)): _*)).as("q"),
        col("n"))
      .withColumn("k", expr("(n * q + 99L) div 100L"))
    val cumB = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sel = cents.groupBy(expr("v div 1000L").as("b"))
      .agg(count(lit(1)).as("nb"))
      .withColumn("cumb", sum("nb").over(cumB))
      .join(broadcast(ks),
        col("cumb") >= col("k") && col("cumb") - col("nb") < col("k"))
      .select(col("q"), col("n"), col("b"),
        (col("k") - (col("cumb") - col("nb"))).as("k_in_b"))
    val cumV = Window.partitionBy("q").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cents.join(broadcast(sel), expr("v div 1000L") === col("b"))
      .groupBy("q", "n", "k_in_b", "v").agg(count(lit(1)).as("nv"))
      .withColumn("cumv", sum("nv").over(cumV))
      .where(col("cumv") >= col("k_in_b") &&
        col("cumv") - col("nv") < col("k_in_b"))
      .select(col("q"), col("n"), col("v").as("value_cents"))
      .orderBy("q")
  }

  /** Session-gap sensitivity: how many sessions the log contains at
    * gap thresholds of 10/30/60 minutes, from ONE pass — the lag gap
    * is computed once per event and three conditional sums fold it,
    * so tuning the sessionizer's gap parameter costs one scan, not
    * one scan per candidate. Output unpivots via `stack` (3 rows).
    */
  def sessionSensitivity(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    def starts(mins: Long) = sum(when(col("prev").isNull ||
      col("ts_ms") - col("prev") > mins * 60000L, 1L).otherwise(0L))
    events.select(col("user_id"), col("ts_ms"), col("event_id"))
      .withColumn("prev", lag("ts_ms", 1).over(w))
      .agg(starts(10).as("s10"), starts(30).as("s30"),
        starts(60).as("s60"))
      .select(expr(
        "stack(3, 10L, s10, 30L, s30, 60L, s60) AS (gap_min, n_sessions)"))
      .orderBy("gap_min")
  }

  /** Inter-order gap distribution: days between a customer's
    * consecutive orders, bucketed by week — the repurchase-cadence
    * histogram. One customer-keyed lag window, one bucket rollup;
    * output is gap-domain-sized.
    */
  def interorderGaps(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("open_day", "o_orderkey")
    orders.select(col("o_custkey"), col("o_orderkey"),
        expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
          .as("open_day"))
      .withColumn("prev", lag("open_day", 1).over(w))
      .where(col("prev").isNotNull)
      .groupBy(expr("(open_day - prev) div 7L").as("gap_weeks"))
      .agg(count(lit(1)).as("n_gaps"))
      .orderBy("gap_weeks")
  }

  /** Resettable accumulator (the CDC delete-marker pattern): per user,
    * events STRICTLY AFTER the user's last 'error' are summed — an
    * error resets the running state the way a CDC delete tombstones a
    * key. Users whose stream never errors keep everything; users whose
    * stream ends in an error report a zero row (count 0), not an
    * absent one — absence and emptiness are different facts.
    *
    * "After" is `ts_ms > last_error_ms` (events sharing the reset's
    * exact millisecond are excluded with it) — a total, engine-
    * independent predicate that needs no event-id tiebreak.
    *
    * Plan shape: the last-error max is a window over the SAME
    * user-hash exchange the final aggregate uses — one shuffle total,
    * no self-join of events against per-user maxima.
    */
  def sinceLastError(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id")
    events
      .select(col("user_id"), col("ts_ms"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("reset_ms", max(when(col("event_type") === "error",
        col("ts_ms"))).over(byUser))
      .groupBy("user_id")
      .agg(
        sum(when(col("reset_ms").isNull || col("ts_ms") > col("reset_ms"),
          1L).otherwise(0L)).as("n_since"),
        sum(when(col("reset_ms").isNull || col("ts_ms") > col("reset_ms"),
          col("cents")).otherwise(0L)).as("cents_since"))
      .orderBy("user_id")
  }

  /** Inter-event gap regularity per user — the bot-cadence feature:
    * `cv2_ppm ≈ 10⁶ · CV²` of the user's gap distribution via the
    * two-moment identity `(n·Σg² − (Σg)²) / (Σg)²` (population
    * variance over squared mean). Human/Poisson traffic sits near
    * 10⁶ (exponential gaps: CV = 1); a fixed-interval scraper
    * collapses toward 0. Exact integers: gaps in SECONDS, and the
    * denominator is pre-truncated (`(Σg)² div 10⁶`) BEFORE the final
    * division — the documented truncation order both engines share —
    * so the 10⁶ rescale never multiplies a ~10¹⁵ numerator. The flag
    * threshold is left to the consumer: uniform synthetic traffic
    * makes any fixed cutoff vacuous (the feature table IS the
    * operator, per the user-features precedent).
    *
    * One user-keyed exchange: the lag window and the moment aggregate
    * share it.
    */
  def gapRegularity(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    events
      .select(col("user_id"), col("ts_ms"), col("event_id"))
      .withColumn("prev", lag("ts_ms", 1).over(byUser))
      .where(col("prev").isNotNull)
      .select(col("user_id"), expr("(ts_ms - prev) div 1000").as("g"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"), sum("g").as("sum_g"),
        sum(expr("g * g")).as("sum_gg"))
      .where(col("sum_g") > 0)
      .select(col("user_id"), col("n_gaps"),
        expr("sum_g div n_gaps").as("mean_gap_s"),
        expr("""(n_gaps * sum_gg - sum_g * sum_g)
               |  div greatest(1L, (sum_g * sum_g) div 1000000L)"""
          .stripMargin).as("cv2_ppm"))
      .orderBy("user_id")
  }

  /** Temporal co-activity pairs: users sharing `windowMs` tumbling
    * windows, ranked by shared-window count — the co-occurrence join
    * over time instead of content. Skew guard: windows holding more
    * than `maxPerWindow` distinct users are dropped BEFORE the
    * self-join (a window everyone shares carries no pair signal and
    * is exactly the quadratic blowup — the stopword-pruning argument
    * in time); candidate volume is Σ users² over KEPT windows. The
    * two join sides are separately-renamed projections (the self-join
    * alias trap).
    */
  def coactivityPairs(events: DataFrame, windowMs: Long = 600000L,
                      maxPerWindow: Long = 1000L, minShared: Long = 3L,
                      topK: Int = 20): DataFrame = {
    val uw = events
      .select(col("user_id"), expr(s"ts_ms div $windowMs").as("w"))
      .distinct()
    val kept = uw.groupBy("w").agg(count(lit(1)).as("n"))
      .where(col("n") <= maxPerWindow).select("w")
    val pruned = uw.join(kept, Seq("w"), "left_semi").localCheckpoint()
    pruned.select(col("w"), col("user_id").as("user_a"))
      .join(pruned.select(col("w"), col("user_id").as("user_b")), "w")
      .where(col("user_a") < col("user_b"))
      .groupBy("user_a", "user_b").agg(count(lit(1)).as("n_windows"))
      .where(col("n_windows") >= minShared)
      .orderBy(col("n_windows").desc, col("user_a"), col("user_b"))
      .limit(topK)
  }

  /** Trailing-7-day EXACT rolling median of daily event counts per
    * type — the window-aggregate Spark lacks natively, expressed as
    * `sort_array(collect_list)` over the ROWS frame with the
    * doubled-units convention (`med2 = lo + hi`) so even-width
    * partial windows stay integer-exact (the [[eventsAnomalyDow]]
    * treatment applied to a moving frame). The frame holds ≤ 7 values
    * by construction, so the per-row buffer is bounded — this is why
    * collect-over-frame is legitimate here and would not be on an
    * unbounded frame. One (type)-keyed exchange; rows are
    * day×type-bounded before the window ever runs.
    */
  def rollingMedian7d(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), expr("ts_ms div 86400000").as("epoch_day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy("epoch_day")
      .rowsBetween(-6, 0)
    daily
      .withColumn("arr", sort_array(collect_list("cnt").over(w)))
      .select(col("event_type"), col("epoch_day"), col("cnt"),
        expr("""element_at(arr, cast((size(arr) + 1) div 2 as int))
               | + element_at(arr, cast(size(arr) div 2 + 1 as int))"""
          .stripMargin).as("med2_7d"))
      .orderBy("event_type", "epoch_day")
  }

  /** STL-style additive decomposition of the daily event-count series
    * per type, composed from the family's integer pieces:
    * trend `t2` = trailing-7-day exact median (doubled units,
    * [[rollingMedian7d]]), detrended `d2 = 2·cnt − t2`, seasonal
    * `s4` = per-(type, weekday) exact median of `d2` (doubled again —
    * quadrupled units), residual `r4 = 2·d2 − s4`. Every term is an
    * integer in its declared unit scale; `cnt = (t2 + s4/2 + r4/2)/2`
    * reconstructs exactly by construction. Weekday is
    * `(epoch_day + 4) % 7` (epoch day 0 was a Thursday — the
    * anomaly-DOW convention).
    *
    * All frames are day×type-bounded before any window; the rolling
    * frame holds ≤ 7 values and each weekday group ≤ ⌈days/7⌉.
    */
  def stlDecompose(events: DataFrame): DataFrame = {
    val detr = rollingMedian7d(events)
      .select(col("event_type"), col("epoch_day"), col("cnt"),
        col("med2_7d").as("t2"),
        (col("cnt") * 2 - col("med2_7d")).as("d2"),
        expr("(epoch_day + 4) % 7").as("dow"))
    val seasonal = detr.groupBy("event_type", "dow")
      .agg(sort_array(collect_list("d2")).as("arr"))
      .select(col("event_type"), col("dow"),
        expr("""element_at(arr, cast((size(arr) + 1) div 2 as int))
               | + element_at(arr, cast(size(arr) div 2 + 1 as int))"""
          .stripMargin).as("s4"))
    detr.join(seasonal, Seq("event_type", "dow"))
      .select(col("event_type"), col("epoch_day"), col("cnt"), col("t2"),
        col("s4"), (col("d2") * 2 - col("s4")).as("r4"))
      .orderBy("event_type", "epoch_day")
  }

  /** Churn readout per market segment: customers whose LAST order is
    * more than `horizonDays` before the corpus' latest order day are
    * churned; output per segment is count, churned count, and churn
    * ppm. The snapshot anchor is data-derived (max order day — the
    * aging-buckets contract, no wall clock). One orders rollup to
    * per-customer last-day, a broadcast customer dim, a broadcast
    * 1-row anchor, one segment-sized output.
    */
  def churnBySegment(orders: DataFrame, customer: DataFrame,
                     horizonDays: Long = 60L): DataFrame = {
    val lastDay = orders
      .groupBy("o_custkey")
      .agg(max(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000"))
        .as("last_day"))
    val anchor = lastDay.agg(max("last_day").as("snap"))
    lastDay
      .join(broadcast(customer.select(col("c_custkey"),
        col("c_mktsegment").as("segment"))),
        col("o_custkey") === col("c_custkey"))
      .crossJoin(broadcast(anchor))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_customers"),
        sum(when(col("last_day") < col("snap") - horizonDays, 1L)
          .otherwise(0L)).as("n_churned"))
      .withColumn("churn_ppm",
        expr("n_churned * 1000000L div n_customers"))
      .orderBy("segment")
  }

  /** Dwell time per event type: the gap to the user's NEXT event,
    * attributed to the current event's type, counted only within a
    * session (gap ≤ `gapMs` — a cross-session gap is absence, not
    * dwell). Output per type: transitions, total and mean dwell ms.
    * One user-keyed lead window + one type rollup.
    */
  def dwellTime(events: DataFrame, gapMs: Long = 1800000L): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    events
      .select(col("user_id"), col("ts_ms"), col("event_id"),
        col("event_type"))
      .withColumn("nxt", lead("ts_ms", 1).over(byUser))
      .where(col("nxt").isNotNull && col("nxt") - col("ts_ms") <= gapMs)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_dwells"),
        sum(col("nxt") - col("ts_ms")).as("dwell_ms"))
      .withColumn("mean_dwell_ms", expr("dwell_ms div n_dwells"))
      .orderBy("event_type")
  }

  /** Month-of-year seasonality index: each calendar month's revenue as
    * a ppm multiple of the flat 1/12 share (10⁶ = perfectly flat).
    * One fused aggregation plus a 1-row total broadcast.
    */
  def seasonalityIndex(orders: DataFrame): DataFrame = {
    val m = orders
      .groupBy(expr("month(cast(o_orderdate as timestamp))").as("m"))
      .agg(expr("sum(cast(round(o_totalprice * 100) as bigint))")
        .as("rev_cents"))
    m.crossJoin(broadcast(m.agg(sum("rev_cents").as("total"))))
      .select(col("m"), col("rev_cents"),
        expr("rev_cents * 12 * 1000000L div total").as("index_ppm"))
      .orderBy("m")
  }

  /** Market-segment × part-brand affinity: integer lift
    * `P(brand | segment) / P(brand)` in ppm over lineitem purchase
    * rows — the cross-dimensional version of the value-bin lift,
    * through the full customer→orders→lineitem→part join path.
    * `lift_ppm = n_sb·n_total·10⁶ div (n_s·n_b)`; 10⁶ = independent.
    *
    * Plan shape: part and customer are broadcast dims; the one real
    * shuffle is orders⋈lineitem on the order key; the lift algebra
    * runs on the (segment × brand)-sized rollup with two broadcast
    * scalar frames. Overflow window: n_sb·n_total·10⁶ < 2⁶³ holds to
    * ~10⁵ rows per cell × ~10⁸ total rows; widen to the pre-truncated
    * denominator spelling past that.
    */
  def segmentBrandLift(lineitem: DataFrame, orders: DataFrame,
                       customer: DataFrame, part: DataFrame): DataFrame = {
    val rows = lineitem.select(col("l_orderkey"), col("l_partkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer.select(col("c_custkey"),
        col("c_mktsegment").as("segment"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(part.select(col("p_partkey"),
        col("p_brand").as("brand"))),
        col("l_partkey") === col("p_partkey"))
      .select("segment", "brand")
    val sb = rows.groupBy("segment", "brand").agg(count(lit(1)).as("n_sb"))
    val s = sb.groupBy("segment").agg(sum("n_sb").as("n_s"))
    val b = sb.groupBy("brand").agg(sum("n_sb").as("n_b"))
    sb.join(broadcast(s), "segment")
      .join(broadcast(b), "brand")
      .crossJoin(broadcast(sb.agg(sum("n_sb").as("n_total"))))
      .select(col("segment"), col("brand"), col("n_sb"),
        expr("n_sb * n_total * 1000000L div (n_s * n_b)").as("lift_ppm"))
      .orderBy("segment", "brand")
  }

  /** Week-over-week retention: users active in epoch-week w and also
    * in week w+1 (left-semi self-join on the week lattice).
    */
  def retention(events: DataFrame): DataFrame = {
    val weeks = events
      .select(col("user_id"), expr("ts_ms div 604800000").as("week"))
      .distinct()
    weeks.as("a")
      .join(weeks.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("b.week") === col("a.week") + 1, "left_semi")
      .groupBy(col("week"))
      .agg(count(lit(1)).as("n_retained"))
      .orderBy("week")
  }

  /** Map-typed JSON processing: parse `props` into map<string,long>,
    * explode entries, aggregate per key — the dynamic-schema path for
    * semi-structured columns (vs. [[jsonStats]]' fixed-path extract).
    */
  def propsMapStats(events: DataFrame): DataFrame =
    events
      .select(explode(from_json(col("props"), lit("map<string,bigint>"))).as(Seq("key", "v")))
      .groupBy("key")
      .agg(count(lit(1)).as("n"), sum("v").as("sum_v"),
        min("v").as("min_v"), max("v").as("max_v"))
      .orderBy("key")

  /** Spark 4 VariantType surface: `props` parsed into a VARIANT (the
    * binary-encoded semi-structured type) and field-extracted with
    * `variant_get` — the modern path for JSON columns, replacing
    * per-query string re-parsing ([[propsMapStats]] is the map-typed
    * sibling, [[jsonStats]] the fixed-schema one). At 100 TB the
    * variant column is parsed ONCE at ingest and stored shredded in
    * parquet; extraction is then a binary field lookup, not a JSON
    * scan — here parse and extract share the query to keep the gate
    * self-contained.
    */
  def propsVariantStats(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        min("k").as("min_k"), max("k").as("max_k"))
      .orderBy("event_type")

  /** Revenue by part brand: lineitem ⋈ broadcast(part). Completes
    * coverage of every testdata table; the broadcast keeps the fact
    * scan shuffle-free up to the final per-brand aggregation.
    */
  def partsRevenueByBrand(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long").as("rev_c"))
      .join(broadcast(Tables.part(spark, dir).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(sum("rev_c").as("revenue_cents"), count(lit(1)).as("n_items"))
      .orderBy("p_brand")

  /** As-of join (composed from built-ins — preference order (a) of the
    * design rules): for each purchase, the most recent strictly-prior
    * view by the same user. One shuffle on user_id; the as-of lookup is
    * a running `last(ignoreNulls)` over a rows-frame ending at -1 — no
    * self-join, no range explosion, scales with events/user.
    */
  def asofViewBeforePurchase(events: DataFrame): DataFrame = {
    val win = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .where(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("event_id"), col("ts_ms"), col("event_type"))
      .withColumn("last_view_id",
        last(when(col("event_type") === "view", col("event_id")), ignoreNulls = true).over(win))
      .withColumn("last_view_ts",
        last(when(col("event_type") === "view", col("ts_ms")), ignoreNulls = true).over(win))
      .where(col("event_type") === "purchase" && col("last_view_id").isNotNull)
      .select(col("event_id").as("purchase_id"), col("last_view_id"),
        (col("ts_ms") - col("last_view_ts")).as("gap_ms"))
      .orderBy("purchase_id")
  }

  /** Nearest as-of join: for each purchase, the view by the same user
    * closest in time on EITHER side (ties → the earlier one) — the
    * "nearest" asof-join direction next to [[asofViewBeforePurchase]]'s
    * strictly-backward one. Same no-self-join shape: one shuffle on
    * user_id; the prior view is a running `last(ignoreNulls)` over the
    * rows-frame ending at -1 and the next view a `first(ignoreNulls)`
    * over the frame starting at +1, so each event is touched once
    * regardless of how far away its nearest view is (a range-join
    * formulation would explode on sparse users).
    */
  def asofNearestView(events: DataFrame): DataFrame = {
    val order = Seq(col("ts_ms"), col("event_id"))
    val wPrev = Window.partitionBy("user_id").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wNext = Window.partitionBy("user_id").orderBy(order: _*)
      .rowsBetween(1, Window.unboundedFollowing)
    val viewId = when(col("event_type") === "view", col("event_id"))
    val viewTs = when(col("event_type") === "view", col("ts_ms"))
    val preferPrev = col("nv_id").isNull ||
      (col("pv_id").isNotNull &&
        col("ts_ms") - col("pv_ts") <= col("nv_ts") - col("ts_ms"))
    events
      .where(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("event_id"), col("ts_ms"), col("event_type"))
      .withColumn("pv_id", last(viewId, ignoreNulls = true).over(wPrev))
      .withColumn("pv_ts", last(viewTs, ignoreNulls = true).over(wPrev))
      .withColumn("nv_id", first(viewId, ignoreNulls = true).over(wNext))
      .withColumn("nv_ts", first(viewTs, ignoreNulls = true).over(wNext))
      .where(col("event_type") === "purchase" &&
        (col("pv_id").isNotNull || col("nv_id").isNotNull))
      .select(col("event_id").as("purchase_id"),
        when(preferPrev, col("pv_id")).otherwise(col("nv_id"))
          .as("nearest_view_id"),
        when(preferPrev, col("ts_ms") - col("pv_ts"))
          .otherwise(col("nv_ts") - col("ts_ms")).as("gap_ms"))
      .orderBy("purchase_id")
  }

  /** Rolling 7-day per-user aggregate via a RANGE window frame — the
    * time-interval window surface (`RANGE BETWEEN <interval> PRECEDING
    * AND CURRENT ROW`) as opposed to the rows-frames elsewhere in this
    * module: the frame is bounded by the ORDER-BY VALUE (ts_ms), so
    * gaps in a user's history shrink the window to whatever events
    * actually fall in the last 7 days, and same-timestamp peers are
    * all included (RANGE peer semantics on both engines). One shuffle
    * on user_id; value in cents per the integer-exactness convention.
    */
  def rollingUserWindow(events: DataFrame, days: Int = 7): DataFrame = {
    val span = days.toLong * 86400000L
    val w = Window.partitionBy("user_id").orderBy(col("ts_ms"))
      .rangeBetween(-span, 0L)
    events
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_c"))
      .withColumn("roll_n", count(lit(1)).over(w).cast("long"))
      .withColumn("roll_sum_cents",
        coalesce(sum("v_c").over(w), lit(0L)))
      .select("event_id", "roll_n", "roll_sum_cents")
      .orderBy("event_id")
  }

  /** Cumulative distinct users per day WITHOUT a running
    * count-distinct: a user contributes to the cumulative curve
    * exactly at their FIRST day, so `min(day) per user → count per
    * day → running sum` computes the exact distinct-to-date series
    * with two map-side-combinable aggregations — the classic rewrite
    * that turns an O(days·users) distinct-accumulation into two
    * shuffles. The final window is global but over per-day rows
    * (bounded, like [[dailyMomentum]]'s — documented safe).
    */
  def cumulativeUsers(events: DataFrame): DataFrame = {
    val firstDay = events
      .select(col("user_id"), expr("ts_ms div 86400000").as("day"))
      .groupBy("user_id").agg(min("day").as("first_day"))
    val w = Window.orderBy("first_day")
      .rowsBetween(Window.unboundedPreceding, 0)
    firstDay.groupBy("first_day").agg(count(lit(1)).as("n_new"))
      .withColumn("cum_users", sum("n_new").over(w))
      .select(col("first_day").as("day"), col("n_new"), col("cum_users"))
      .orderBy("day")
  }

  /** Per-type linear trend of daily event volume by closed-form least
    * squares over (day-index, count) — `slope = (n·Σxy − Σx·Σy) /
    * (n·Σx² − (Σx)²)` — entirely in INTEGER sums (slope in micro
    * units, truncating div), so the regression is engine-exact with
    * no float accumulation-order sensitivity. Day indices are rebased
    * to the corpus minimum (1-row broadcast) to keep the moment sums
    * small; one shuffle for the daily rollup, one for the per-type
    * moments, both combinable. Single-day degenerate groups get NULL
    * (nullif on the variance denominator), not a division error.
    */
  def dailyTrend(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("event_type"), expr("ts_ms div 86400000").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
    val d0 = daily.agg(min("day").as("d0"))
    daily.crossJoin(broadcast(d0))
      .select(col("event_type"), (col("day") - col("d0")).as("x"), col("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum("x").as("sx"), sum("c").as("sy"),
        sum(expr("x * c")).as("sxy"), sum(expr("x * x")).as("sxx"))
      .select(col("event_type"), col("n_days"),
        expr("(n_days * sxy - sx * sy) * 1000000L div nullif(n_days * sxx - sx * sx, 0)")
          .as("slope_micro"))
      .orderBy("event_type")
  }

  /** Pivot: per-user event-type counts as columns (conditional
    * aggregation — one shuffle, no multi-pass pivot machinery).
    */
  def eventTypePivot(events: DataFrame): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    events.groupBy("user_id")
      .agg(count(lit(1)).as("n_total"),
        types.map(t => sum(when(col("event_type") === t, 1L).otherwise(0L))
          .as(s"n_$t")): _*)
      .orderBy("user_id")
  }

  /** Rollup: per-type and grand-total event stats in one pass. The
    * total row is marked by `grouping()` (`is_total`), not a sentinel
    * string — a real event_type value equal to any sentinel can never
    * be conflated with the rollup's own rows (the (event_type,
    * is_total) pair is unambiguous even for NULL keys, displayed '').
    */
  def eventsRollup(events: DataFrame): DataFrame =
    events
      .rollup(col("event_type"))
      // grouping() is only resolvable inside the rollup's own agg
      .agg(grouping(col("event_type")).cast("long").as("is_total"),
        count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("sum_value_cents"))
      // et_null disambiguates a genuine NULL key from a genuine ''
      // key (both display ''): with it the sort key set is total, so
      // row order matches the oracle on ANY data, not just data that
      // avoids the collision
      .select(coalesce(col("event_type"), lit("")).as("event_type"),
        ((col("is_total") === 0) && col("event_type").isNull)
          .cast("long").as("et_null"),
        col("is_total"), col("n_events"), col("sum_value_cents"))
      .orderBy("is_total", "et_null", "event_type")

  /** Cube over (event_type, epoch_day): all four grouping combinations
    * in one pass, each row tagged with its grouping id (bit 1 =
    * event_type aggregated away, bit 0 = epoch_day) — same
    * no-sentinel-conflation contract as [[eventsRollup]].
    */
  def eventsCube(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), expr("ts_ms div 86400000").as("epoch_day"),
        round(col("value") * 100).cast("long").as("value_c"))
      .cube(col("event_type"), col("epoch_day"))
      .agg((grouping(col("event_type")) * 2 + grouping(col("epoch_day")))
          .cast("long").as("gid"),
        count(lit(1)).as("n_events"), sum("value_c").as("sum_value_cents"))
      // same NULL-vs-display-value disambiguation as eventsRollup:
      // et_null/day_null make the sort key total on any data
      .select(coalesce(col("event_type"), lit("")).as("event_type"),
        ((col("gid") < 2) && col("event_type").isNull)
          .cast("long").as("et_null"),
        coalesce(col("epoch_day"), lit(-1L)).as("epoch_day"),
        ((col("gid") % 2 === 0) && col("epoch_day").isNull)
          .cast("long").as("day_null"),
        col("gid"), col("n_events"), col("sum_value_cents"))
      .orderBy("gid", "et_null", "event_type", "day_null", "epoch_day")

  /** Explicit GROUPING SETS — the two single-key marginals only (per
    * event_type, per epoch_day), no cross product and no grand total:
    * the shape rollup/cube can't express.
    */
  def eventsGroupingSets(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), expr("ts_ms div 86400000").as("epoch_day"),
        round(col("value") * 100).cast("long").as("value_c"))
      .groupingSets(Seq(Seq(col("event_type")), Seq(col("epoch_day"))),
        col("event_type"), col("epoch_day"))
      .agg((grouping(col("event_type")) * 2 + grouping(col("epoch_day")))
          .cast("long").as("gid"),
        count(lit(1)).as("n_events"), sum("value_c").as("sum_value_cents"))
      // same NULL-vs-display-value disambiguation as eventsRollup:
      // et_null/day_null make the sort key total on any data
      .select(coalesce(col("event_type"), lit("")).as("event_type"),
        ((col("gid") < 2) && col("event_type").isNull)
          .cast("long").as("et_null"),
        coalesce(col("epoch_day"), lit(-1L)).as("epoch_day"),
        ((col("gid") % 2 === 0) && col("epoch_day").isNull)
          .cast("long").as("day_null"),
        col("gid"), col("n_events"), col("sum_value_cents"))
      .orderBy("gid", "et_null", "event_type", "day_null", "epoch_day")

  /** Calendar-day bucketing (epoch days — pure integer arithmetic in
    * both engines, no timezone/calendar library drift).
    */
  def eventsByDay(events: DataFrame): DataFrame =
    events
      .select(expr("ts_ms div 86400000").as("epoch_day"),
        round(col("value") * 100).cast("long").as("value_c"))
      .groupBy("epoch_day")
      .agg(count(lit(1)).as("n_events"), sum("value_c").as("sum_value_cents"))
      .orderBy("epoch_day")

  /** Sessionization via Spark's native `session_window` (dynamic-gap
    * merging inside the aggregation operator — no window-function
    * pass). Note the boundary semantics: an event exactly `gap` after
    * the previous one starts a NEW session (session windows are
    * half-open), vs. [[sessions]]' strictly-greater rule.
    */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"),
        session_window(timestamp_millis(col("ts_ms")), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_millis(col("w.start")).as("start_ms"),
        col("n_events"))
      .orderBy("user_id", "start_ms")

  /** Staged funnel: users with a view, users whose first signup comes
    * after their first view, users whose first purchase comes after
    * that signup. Three conditional-min aggregations over one shuffle
    * on user_id each — no per-user state, no driver collection.
    */
  def funnel(events: DataFrame): DataFrame = {
    val firstView = events.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts_ms").as("v_ms"))
    val firstSignup = events.where(col("event_type") === "signup")
      .join(firstView, "user_id")
      .where(col("ts_ms") > col("v_ms"))
      .groupBy("user_id").agg(min("ts_ms").as("s_ms"))
    val firstPurchase = events.where(col("event_type") === "purchase")
      .join(firstSignup, "user_id")
      .where(col("ts_ms") > col("s_ms"))
      .groupBy("user_id").agg(min("ts_ms").as("p_ms"))
    firstView
      .join(firstSignup, Seq("user_id"), "left")
      .join(firstPurchase, Seq("user_id"), "left")
      .agg(count(col("v_ms")).as("n_view"),
        count(col("s_ms")).as("n_signup_after_view"),
        count(col("p_ms")).as("n_purchase_after_signup"))
  }

  /** rank/dense_rank with REAL ties: event types ranked per user by
    * count (equal counts are common, so rank gaps and dense ranks
    * genuinely differ). Rank values depend only on the count multiset,
    * so the output is deterministic; presentation order pins ties by
    * event_type.
    */
  def eventTypeRanks(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("cnt").desc)
    events.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("cnt"))
      .select(col("user_id"), col("event_type"), col("cnt"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("dense_rnk"))
      .orderBy("user_id", "event_type")
  }

  /** Sliding event-time windows via the built-in `window()` generator:
    * each event lands in width/slide windows (2 here). Spark explodes
    * the window set per row before the aggregation — one shuffle on
    * (window, event_type), same as tumbling ×(width/slide).
    */
  def slidingWindows(events: DataFrame, width: String = "10 minutes",
                     slide: String = "5 minutes"): DataFrame =
    events
      .groupBy(window(timestamp_millis(col("ts_ms")), width, slide).as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_millis(col("w.start")).as("window_start_ms"),
        col("event_type"), col("n_events"))
      .orderBy("window_start_ms", "event_type")

  /** Full-outer join coverage: daily click vs view counts, days kept
    * from either side, absent side zero-filled. Both inputs are day
    * aggregates, so the join is tiny regardless of event volume.
    */
  def clicksVsViewsByDay(events: DataFrame): DataFrame = {
    def daily(t: String, as: String) = events
      .where(col("event_type") === t)
      .groupBy(expr("ts_ms div 86400000").as("epoch_day"))
      .agg(count(lit(1)).as(as))
    daily("click", "n_clicks")
      .join(daily("view", "n_views"), Seq("epoch_day"), "full_outer")
      .select(col("epoch_day"),
        coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
        coalesce(col("n_views"), lit(0L)).as("n_views"))
      .orderBy("epoch_day")
  }

  /** Interval (range) join: for each purchase, how many views the same
    * user made in the preceding `windowMs`. The join key is the
    * equi-part (user_id) — one shuffle, range predicate evaluated as a
    * residual on co-located rows — so the cost is bounded by events per
    * user, never a cross product.
    */
  def intervalJoinViews(events: DataFrame, windowMs: Long = 600000L): DataFrame = {
    val p = events.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts_ms"))
    val v = events.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts_ms").as("v_ms"))
    p.join(v, col("user_id") === col("v_user") &&
        col("v_ms") >= col("ts_ms") - windowMs && col("v_ms") < col("ts_ms"),
        "left")
      .groupBy("purchase_id")
      .agg(count(col("v_ms")).as("n_views_before"))
      .orderBy("purchase_id")
  }

  /** Exact quantiles of per-event value (integer cents) per event_type.
    * Quarter-point interpolation over integers is exactly representable
    * in binary doubles, so Spark's `percentile` and DuckDB's
    * `quantile_cont` agree bit-for-bit.
    */
  def valueQuantiles(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), round(col("value") * 100).cast("long").as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        expr("percentile(c, array(0.25D, 0.5D, 0.75D))").as("qs"))
      .select(col("event_type"), col("n"),
        col("qs")(0).as("p25"), col("qs")(1).as("p50"), col("qs")(2).as("p75"))
      .orderBy("event_type")

  /** [[valueQuantiles]] through the mergeable
    * [[graft.functions.KllQuantiles]] sketch — fixed ≤ ~2k longs of
    * state per group instead of `percentile`'s O(rows) sort buffer; the
    * 100 TB plan. Exact (and oracle-matching) while every group's row
    * count ≤ k; ±O(n/k) rank error above.
    */
  def valueQuantilesSketch(events: DataFrame, k: Int = 32768): DataFrame =
    events
      .select(col("event_type"), round(col("value") * 100).cast("long").as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        graft.functions.KllQuantiles.kll_quantiles(
          col("c"), k, Seq(0.25d, 0.5d, 0.75d)).as("qs"))
      .select(col("event_type"), col("n"),
        col("qs")(0).as("p25"), col("qs")(1).as("p50"), col("qs")(2).as("p75"))
      .orderBy("event_type")

  /** Customer spend tiers by quartile BOUNDARY assignment (not ntile):
    * the three quartile cut points are one tiny percentile aggregate
    * broadcast back over the spend table — no global single-partition
    * window sort, which is what `ntile()` over an empty partitionBy
    * would cost at scale. Ties land by value, deterministically.
    */
  def customerSpendTiers(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(sum(cents("o_totalprice")).as("spend_cents"))
    val cuts = spend.agg(
      expr("percentile(spend_cents, array(0.25D, 0.5D, 0.75D))").as("qs"))
    spend.crossJoin(broadcast(cuts))
      .select(col("o_custkey"), col("spend_cents"),
        when(col("spend_cents") <= col("qs")(0), 1L)
          .when(col("spend_cents") <= col("qs")(1), 2L)
          .when(col("spend_cents") <= col("qs")(2), 3L)
          .otherwise(4L).as("tier"))
      .groupBy("tier")
      .agg(count(lit(1)).as("n_customers"),
        sum("spend_cents").as("sum_spend_cents"))
      .orderBy("tier")
  }

  /** Daily revenue momentum: per-day cents total with day-over-day
    * delta and a 7-row moving sum. The window is global but runs over
    * the per-day AGGREGATES (≤ a few thousand rows for decades of
    * days) — the raw events never pass through a single partition.
    */
  def dailyMomentum(events: DataFrame): DataFrame = {
    val daily = events
      .select(expr("ts_ms div 86400000").as("epoch_day"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy("epoch_day")
      .agg(sum("c").as("cents"))
    val w = Window.orderBy("epoch_day")
    daily
      .withColumn("delta_cents",
        coalesce(col("cents") - lag("cents", 1).over(w), lit(0L)))
      .withColumn("ma7_cents",
        sum("cents").over(w.rowsBetween(-6, 0)))
      .orderBy("epoch_day")
  }

  /** JSON extraction from the `props` column + aggregation: average of
    * `$.k` per event_type surfaced as integer fixed-point (sum and
    * count separately — no float division).
    */
  def eventsJson(spark: SparkSession, dir: String): DataFrame =
    jsonStats(Tables.events(spark, dir))

  def jsonStats(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        min("k").as("min_k"), max("k").as("max_k"))
      .orderBy("event_type")

  /** Quartile assignment WITHIN each event_type (ntile over a keyed
    * partition — never the global single-partition ntile), aggregated
    * per tile. Total window order via (value_c, event_id).
    */
  def eventsNtile(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type")
      .orderBy(col("value_c"), col("event_id"))
    events.select(col("event_type"), cents("value").as("value_c"),
        col("event_id"))
      .withColumn("tile", ntile(4).over(w).cast("long"))
      .groupBy("event_type", "tile")
      .agg(count(lit(1)).as("n"), sum("value_c").as("sum_value_cents"))
      .orderBy("event_type", "tile")
  }

  /** Each user's first and last event type (first_value/last_value over
    * an unbounded frame with a total order) plus their event count.
    */
  def userFirstLast(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    events.select(col("user_id"), col("event_type"), col("ts_ms"),
        col("event_id"))
      .withColumn("first_type", first("event_type").over(w))
      .withColumn("last_type", last("event_type").over(w))
      .withColumn("n_events",
        count(lit(1)).over(Window.partitionBy("user_id")))
      .select("user_id", "first_type", "last_type", "n_events")
      .distinct()
      .orderBy("user_id")
  }

  private def revCents: org.apache.spark.sql.Column =
    round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
      .cast("long").as("rev_c")

  /** TPC-H Q7-shaped bilateral trade volume: supplier nation ↔ customer
    * nation by ship year. The two nation lookups broadcast (25 rows);
    * customer/supplier broadcast after their nation filter; the only
    * big shuffle is lineitem ⋈ orders. The disjunctive nation-pair
    * predicate lands AFTER the dimension joins, exactly where TPC-H
    * puts it.
    */
  def q7Volume(spark: SparkSession, dir: String,
               nationA: String = "NATION_1", nationB: String = "NATION_2"): DataFrame = {
    val n1 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    val sup = Tables.supplier(spark, dir).join(broadcast(n1),
      col("s_nationkey") === col("s_nk")).select("s_suppkey", "supp_nation")
    val cust = Tables.customer(spark, dir).join(broadcast(n2),
      col("c_nationkey") === col("c_nk")).select("c_custkey", "cust_nation")
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1998-01-01"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("yr"), revCents)
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .where((col("supp_nation") === nationA && col("cust_nation") === nationB) ||
        (col("supp_nation") === nationB && col("cust_nation") === nationA))
      .groupBy("supp_nation", "cust_nation", "yr")
      .agg(sum("rev_c").as("revenue_cents"))
      .orderBy("supp_nation", "cust_nation", "yr")
  }

  /** TPC-H Q8-shaped market share: one target nation's slice of a
    * region's yearly revenue for one part type. Surfaced as
    * (nation_cents, total_cents) integer pairs — the ratio is the
    * caller's float, not the engine's.
    */
  def q8MarketShare(spark: SparkSession, dir: String,
                    nation: String = "NATION_3", region: String = "ASIA",
                    ptype: String = "ECONOMY"): DataFrame = {
    val supNation = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    val regionCust = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .join(broadcast(Tables.region(spark, dir).where(col("r_name") === region)),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("rc_nk"))),
        col("c_nationkey") === col("rc_nk"))
      .select("c_custkey")
    val pt = Tables.part(spark, dir).where(col("p_type") === ptype)
      .select("p_partkey")
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), revCents)
      .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, dir)
        .where(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1998-01-01"))
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).cast("long").as("yr")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(regionCust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy("yr")
      .agg(sum(when(col("nation") === nation, col("rev_c")).otherwise(0L))
          .as("nation_cents"),
        sum("rev_c").as("total_cents"))
      .orderBy("yr")
  }

  /** TPC-H Q9-shaped profit by supplier nation × order year for parts
    * matching a name substring (no partsupp table in this testdata, so
    * profit is discounted revenue).
    */
  def q9Profit(spark: SparkSession, dir: String,
               nameLike: String = "widget"): DataFrame = {
    val pt = Tables.part(spark, dir)
      .where(col("p_name").contains(nameLike)).select("p_partkey")
    val supNation = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), revCents)
      .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("yr")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy("nation", "yr")
      .agg(sum("rev_c").as("profit_cents"))
      .orderBy("nation", "yr")
  }

  /** TPC-H Q12-shaped priority × delay-bucket counts (this testdata has
    * no commit/receipt dates or ship modes, so the bucket is order→ship
    * delay in whole days — pure epoch-ms integer arithmetic in both
    * engines).
    */
  def q12ShipDelay(spark: SparkSession, dir: String): DataFrame = {
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(spark, dir).select("l_orderkey", "l_shipdate")
      .join(Tables.orders(spark, dir)
        .select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        // the parquet dates are TIMESTAMP_NTZ; the UTC session makes
        // the cast-to-instant equal DuckDB's naive epoch_ms
        expr("(unix_millis(cast(l_shipdate AS timestamp)) - " +
          "unix_millis(cast(o_orderdate AS timestamp))) div 86400000")
          .as("delay_days"))
      .select(col("o_orderpriority"),
        when(col("delay_days") < 30, "fast")
          .when(col("delay_days") < 90, "mid")
          .otherwise("slow").as("bucket"))
      .groupBy("bucket")
      .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("bucket")
  }

  /** TPC-H Q13-shaped customer order-count distribution: LEFT join so
    * zero-order customers survive with count 0, then a histogram of the
    * counts. Two shuffles (custkey, then c_count) — both on aggregated
    * rows.
    */
  def q13CustDist(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select("c_custkey")
      .join(Tables.orders(spark, dir)
          .where(col("o_orderpriority") =!= "5-LOW")
          .select("o_orderkey", "o_custkey"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** TPC-H Q15-shaped top supplier: quarterly revenue per supplier,
    * keep the max-revenue supplier(s) — the scalar-max is a 1-row
    * broadcast joined back, not a global sort.
    */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1996-04-01"))
      .select(col("l_suppkey"), revCents)
      .groupBy("l_suppkey")
      .agg(sum("rev_c").as("total_rev_cents"))
    rev.join(broadcast(rev.agg(max("total_rev_cents").as("mx"))),
        col("total_rev_cents") === col("mx"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select("s_suppkey", "s_name")), col("l_suppkey") === col("s_suppkey"))
      .select("s_suppkey", "s_name", "total_rev_cents")
      .orderBy("s_suppkey")
  }

  /** TPC-H Q17-shaped small-quantity revenue: lines below 20% of their
    * part's average quantity. The per-part average rides as exact
    * integers (5·centiqty·cnt < Σcentiqty — no float division, so both
    * engines agree bit-for-bit on the boundary).
    */
  def q17SmallQty(spark: SparkSession, dir: String,
                  brand: String = "Brand#3"): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val avgQ = li.select(col("l_partkey").as("apk"),
        round(col("l_quantity") * 100).cast("long").as("cq"))
      .groupBy("apk").agg(sum("cq").as("sq"), count(lit(1)).as("cnt"))
    li.select(col("l_partkey"),
        round(col("l_quantity") * 100).cast("long").as("centiqty"),
        round(col("l_extendedprice") * 100).cast("long").as("price_c"))
      .join(broadcast(Tables.part(spark, dir)
        .where(col("p_brand") === brand).select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .join(avgQ, col("l_partkey") === col("apk"))
      .where(col("centiqty") * 5 * col("cnt") < col("sq"))
      .agg(sum("price_c").as("sum_price_cents"), count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q19-shaped disjunctive predicate revenue: OR-of-ANDs across
    * brand/size/quantity — the pushdown shape optimizers historically
    * mangled; part side broadcast with its size bounds pre-applied.
    */
  def q19Disjunctive(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).select("p_partkey", "p_brand", "p_size")
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity"), revCents)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .where(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
          col("l_quantity").between(20, 30)))
      .agg(sum("rev_c").as("revenue_cents"), count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q22-shaped dormant rich customers: above-average balance
    * (integer cross-multiplied — no float average) with no RECENT
    * orders (left-anti against the filtered order scan), grouped by
    * nation. The global average is a 1-row broadcast.
    */
  def q22DormantRich(spark: SparkSession, dir: String,
                     since: String = "2000-01-01"): DataFrame = {
    val bal = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"),
        round(col("c_acctbal") * 100).cast("long").as("bal_c"))
    val avgBal = bal.where(col("bal_c") > 0)
      .agg(sum("bal_c").as("s"), count(lit(1)).as("n"))
    bal.join(broadcast(avgBal))
      .where(col("bal_c") * col("n") > col("s"))
      .join(Tables.orders(spark, dir)
          .where(col("o_orderdate") >= lit(since)).select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("numcust"), sum("bal_c").as("total_bal_cents"))
      .orderBy("c_nationkey")
  }

  /** SCD-1 upsert merge: latest-per-user rows BEFORE the split form the
    * snapshot, rows at/after it are the updates; a full-outer join +
    * coalesce takes the update when present, else the snapshot — the
    * lakehouse MERGE pattern as one keyed shuffle per side with exchange
    * reuse (both sides hash-partition on user_id, the join adds none).
    */
  def snapshotUpsert(events: DataFrame,
                     splitMs: Long = 1705363200000L): DataFrame = {
    def latest(df: DataFrame) = {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_ms").desc, col("event_id").desc)
      df.select(col("user_id"), col("event_id"), col("ts_ms"), col("event_type"))
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
    }
    val snap = latest(events.where(col("ts_ms") < splitMs))
      .withColumnRenamed("user_id", "s_user")
    val upd = latest(events.where(col("ts_ms") >= splitMs))
      .toDF("u_user", "u_event_id", "u_ts_ms", "u_event_type")
    snap.join(upd, col("s_user") === col("u_user"), "full_outer")
      .select(coalesce(col("u_user"), col("s_user")).as("user_id"),
        coalesce(col("u_event_id"), col("event_id")).as("last_event_id"),
        coalesce(col("u_ts_ms"), col("ts_ms")).as("last_ts_ms"),
        coalesce(col("u_event_type"), col("event_type")).as("last_type"))
      .orderBy("user_id")
  }

  /** Snapshot diff (CDC between two materialization points): per-user
    * latest-event state AT the split vs at the end of the log, joined
    * full-outer and classified `added` (user first appears after the
    * split) or `changed` (latest event differs) — `same` rows are
    * dropped, so the output is exactly the change set an incremental
    * consumer must apply. Both sides hash-partition on user_id
    * (exchange reuse, the [[snapshotUpsert]] shape); the diff itself
    * is column comparison, no hashing of whole rows needed since the
    * latest event_id pins the state.
    */
  def snapshotDiff(events: DataFrame,
                   splitMs: Long = 1705363200000L): DataFrame = {
    def latest(df: DataFrame) = {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_ms").desc, col("event_id").desc)
      df.select(col("user_id"), col("event_id"), col("ts_ms"))
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select("user_id", "event_id")
    }
    val old = latest(events.where(col("ts_ms") < splitMs))
      .toDF("o_user", "o_event_id")
    val neu = latest(events).toDF("n_user", "n_event_id")
    old.join(neu, col("o_user") === col("n_user"), "full_outer")
      .select(coalesce(col("n_user"), col("o_user")).as("user_id"),
        when(col("o_user").isNull, "added").otherwise("changed").as("status"),
        col("o_event_id").as("old_event_id"),
        col("n_event_id").as("new_event_id"))
      .where(col("old_event_id").isNull ||
        col("old_event_id") =!= col("new_event_id"))
      .orderBy("user_id")
  }

  /** Winsorized per-type value statistics: clip at the EXACT p05/p95
    * order statistics — `value at rank ceil(q·n)` under the total
    * order (c) — computed positionally, not via an interpolating
    * float quantile whose rounding the engines need not share. Ties
    * are safe: the VALUE at a rank is well-defined even though tie
    * order isn't, because tied positions hold the same value. Output
    * keeps raw and clipped sums side by side (the robust-mean
    * before/after a pipeline actually compares).
    *
    * Scale note: the rank window totals-orders each type's values —
    * the dominant-partition risk the refined/salted window patterns
    * (shardAssignRefined) address; here a type holds ≤ n/5 rows.
    */
  def winsorizedStats(events: DataFrame): DataFrame = {
    val vals = events.where(col("value").isNotNull)
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
    val w = Window.partitionBy("event_type").orderBy(col("c"))
    val ranked = vals.withColumn("rn", row_number().over(w).cast("long"))
      .localCheckpoint()
    val counts = ranked.groupBy("event_type").agg(max("rn").as("n"))
    val cuts = ranked.join(broadcast(counts), "event_type")
      .groupBy("event_type")
      .agg(min(when(col("rn") === expr("(5 * n + 99) div 100"), col("c")))
          .as("lo_cents"),
        min(when(col("rn") === expr("(95 * n + 99) div 100"), col("c")))
          .as("hi_cents"))
    ranked.join(broadcast(cuts), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        min("lo_cents").as("lo_cents"), min("hi_cents").as("hi_cents"),
        sum("c").as("sum_cents"),
        sum(greatest(col("lo_cents"), least(col("hi_cents"), col("c"))))
          .as("wins_sum_cents"))
      .orderBy("event_type")
  }

  /** Incremental rollup: weekly aggregates derived from the DAILY
    * aggregate, not the raw rows — the aggregate-of-aggregates pattern
    * that lets a 100 TB pipeline maintain coarse grains from fine ones
    * (sums re-aggregate losslessly; the second shuffle moves only
    * day-level rows).
    */
  def weeklyFromDaily(events: DataFrame): DataFrame =
    eventsByDay(events)
      .select(expr("epoch_day div 7").as("epoch_week"),
        col("n_events"), col("sum_value_cents"))
      .groupBy("epoch_week")
      .agg(sum("n_events").as("n_events"),
        sum("sum_value_cents").as("sum_value_cents"))
      .orderBy("epoch_week")

  /** Variance components as exact integers: (n, Σc, Σc²) per
    * event_type. Client-side `(n·Σc² − (Σc)²) / n²` is the population
    * variance in cents² — the engine ships only bigints, so both
    * engines agree bit-for-bit where a float `stddev` aggregate would
    * drift with partition order. Σc² < 2^63 needs |c| ≤ ~3M·√rows —
    * enforced by value ∈ [0, 1000) in this schema; a 100 TB deployment
    * wanting overflow headroom swaps the sums to DECIMAL(38,0).
    */
  def eventsValueStats(events: DataFrame): DataFrame =
    events.select(col("event_type"), cents("value").as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("c").as("sum_cents"),
        sum(col("c") * col("c")).as("sumsq_cents"))
      .orderBy("event_type")

  /** Integer-exact z-score outlier flagging per event type: flag rows
    * where (x − μ)² > k²·σ², with μ and σ² computed as FLOOR divisions
    * of the integer-cents moment sums — deterministic on both engines,
    * no float drift, and only one broadcast of the 5-row per-type stats
    * (zero extra shuffle over the fact side). Validity window: Σc²
    * must stay under 2^63, i.e. ~10^8 rows per group at 1000.00-unit
    * values — beyond that, switch the moment sums to decimal(38,0).
    */
  def valueOutliers(events: DataFrame, k: Int): DataFrame = {
    val v = events.select(col("event_id"), col("event_type"),
      cents("value").as("value_c"))
    val s = v.groupBy("event_type").agg(count(lit(1)).as("n"),
      sum("value_c").as("s1"), sum(col("value_c") * col("value_c")).as("s2"))
    v.join(broadcast(s), "event_type")
      .select(col("event_id"), col("event_type"), col("value_c"),
        expr("s1 div n").as("mu_c"),
        expr("s2 div n - (s1 div n) * (s1 div n)").as("var_c"))
      .where(expr(s"(value_c - mu_c) * (value_c - mu_c) > ${k.toLong * k}L * var_c"))
      .orderBy("event_id")
  }

  /** Median-absolute-deviation outliers per event_type — the robust
    * sibling of [[valueOutliers]]'s z-score (a single extreme value
    * drags a mean+variance gate, but not a median+MAD one).
    * Integer-exact across engines by working in DOUBLED units: cents
    * are integers, so 2·median(cents) and 4·MAD-quarters are exact
    * BIGINTs on both sides (medians of integers land on halves at
    * worst), and the outlier test |x−med| > 3·MAD becomes the pure
    * integer comparison 2·|2x−med2| > 3·mad4 (dev2 = 2·|x−med| and
    * mad4 = 4·MAD, so both sides carry the same 4× unit).
    *
    * Scale note: exact `percentile` keeps O(rows) sort state per group
    * — fine for a bounded set of event types; at an unbounded group key
    * use the KLL sketch route ([[graft.functions.KllQuantiles]]) like
    * `events_value_quantiles_sketch` does.
    */
  def valueMad(events: DataFrame, k: Int = 3): DataFrame = {
    val base = events.select(col("event_type"), cents("value").as("value_c"))
    val med = base.groupBy("event_type")
      .agg(expr("cast(2.0D * percentile(value_c, 0.5D) AS bigint)").as("med_x2"))
    val dev = base.join(med, "event_type")
      .withColumn("dev2", abs(col("value_c") * 2 - col("med_x2")))
    val mad = dev.groupBy("event_type")
      .agg(expr("cast(2.0D * percentile(dev2, 0.5D) AS bigint)").as("mad_x4"))
    dev.join(mad, "event_type")
      .groupBy(col("event_type"), col("med_x2"), col("mad_x4"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("dev2") * 2 > col("mad_x4") * k, 1L).otherwise(0L))
          .as("n_outliers"))
      .select("event_type", "med_x2", "mad_x4", "n", "n_outliers")
      .orderBy("event_type")
  }

  /** Gap-filled daily spend per user: a dense (user × day) spine with
    * missing days forward-filled from the last observed value (the
    * time-series "carry last observation forward" op; `is_filled`
    * marks synthesized rows, and leading gaps before a user's first
    * observation fill with 0). Spine days are the GLOBAL [min, max]
    * day range — a 1-row broadcast — so every user gets the same
    * calendar; the fill itself is one window over hash(user_id), the
    * same single exchange the daily rollup already needed.
    *
    * Scale note: the spine is users × days rows. Dense output is the
    * point of the operator; if the calendar is years-long, bound it
    * with a date filter BEFORE gap-filling, not after.
    */
  def gapFillDaily(events: DataFrame): DataFrame = {
    val daily = events.select(col("user_id"),
        expr("ts_ms div 86400000").as("epoch_day"), cents("value").as("vc"))
      .groupBy("user_id", "epoch_day").agg(sum("vc").as("day_c"))
    val bounds = daily.agg(min("epoch_day").as("d0"), max("epoch_day").as("d1"))
    val spine = daily.select("user_id").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("user_id"), explode(expr("sequence(d0, d1)")).as("epoch_day"))
    val w = Window.partitionBy("user_id").orderBy("epoch_day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("user_id", "epoch_day"), "left")
      .withColumn("filled_c",
        coalesce(last("day_c", ignoreNulls = true).over(w), lit(0L)))
      .withColumn("is_filled", when(col("day_c").isNull, 1L).otherwise(0L))
      .select("user_id", "epoch_day", "filled_c", "is_filled")
      .orderBy("user_id", "epoch_day")
  }

  /** Linear gap interpolation over the per-type daily series — the
    * time-series REPAIR sibling of [[gapFillDaily]]'s carry-forward:
    * a missing day gets `prev + (next − prev)·(d − pd) div (nd − pd)`
    * between its nearest observed neighbors (clamped to the nearest
    * value at the series edges). All integer: both engines truncate
    * toward zero on signed division (verified −7//2 = −3 on DuckDB),
    * so downward slopes interpolate identically. The prev/next
    * observed (day, value) pairs are ignoreNulls window probes over
    * the spine — one shuffle on event_type, no self-join against the
    * observation set.
    */
  def gapInterpDaily(events: DataFrame): DataFrame = {
    val daily = events.select(col("event_type"),
        expr("ts_ms div 86400000").as("epoch_day"), cents("value").as("vc"))
      .groupBy("event_type", "epoch_day").agg(sum("vc").as("day_c"))
    val bounds = daily.agg(min("epoch_day").as("d0"), max("epoch_day").as("d1"))
    val spine = daily.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(expr("sequence(d0, d1)")).as("epoch_day"))
    val order = Window.partitionBy("event_type").orderBy("epoch_day")
    val wPrev = order.rowsBetween(Window.unboundedPreceding, 0)
    val wNext = order.rowsBetween(0, Window.unboundedFollowing)
    val obsDay = when(col("day_c").isNotNull, col("epoch_day"))
    spine.join(daily, Seq("event_type", "epoch_day"), "left")
      .withColumn("pd", last(obsDay, ignoreNulls = true).over(wPrev))
      .withColumn("pv", last("day_c", ignoreNulls = true).over(wPrev))
      .withColumn("nd", first(obsDay, ignoreNulls = true).over(wNext))
      .withColumn("nv", first("day_c", ignoreNulls = true).over(wNext))
      .select(col("event_type"), col("epoch_day"),
        when(col("day_c").isNotNull, col("day_c"))
          .when(col("pv").isNull, col("nv"))
          .when(col("nv").isNull, col("pv"))
          .otherwise(col("pv") + expr(
            "(nv - pv) * (epoch_day - pd) div (nd - pd)"))
          .as("interp_c"),
        when(col("day_c").isNull, 1L).otherwise(0L).as("is_interp"))
      .orderBy("event_type", "epoch_day")
  }

  /** Cohort activity matrix: users grouped by first-activity week
    * (the cohort), counted per week-offset since that cohort — the
    * full retention triangle behind [[retention]]'s single-day rates.
    * Two shuffles: first-week per user (map-side combinable min), then
    * the (cohort, offset) distinct-user rollup; the user→cohort join
    * rides the first shuffle's partitioning.
    */
  def cohortMatrix(events: DataFrame): DataFrame = {
    val weeks = events.select(col("user_id"),
      expr("ts_ms div 604800000").as("wk"))
    val firstWk = weeks.groupBy("user_id").agg(min("wk").as("cohort_wk"))
    weeks.join(firstWk, "user_id")
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("offset_wk"))
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_wk", "offset_wk")
  }

  /** One event as a typed row — the `Dataset[T]` surface. */
  final case class Event(event_id: Long, user_id: Long, ts_ms: Long,
                         event_type: String, value_c: Long)

  /** Per-user spend through the TYPED Dataset API
    * (`groupByKey`/`mapGroups` with case-class Encoders) — the
    * compile-time-checked path; equals the untyped groupBy/agg. The
    * closure runs per group server-side; only (user, n, sum) rows
    * return, and Catalyst still plans a hash shuffle on the key (one
    * exchange, same as the DataFrame form).
    */
  def typedUserSpend(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("event_id"), col("user_id"), col("ts_ms"),
        col("event_type"), cents("value").as("value_c"))
      .as[Event]
      .groupByKey(_.user_id)
      .mapGroups { (uid, rows) =>
        var n = 0L; var s = 0L
        rows.foreach { e => n += 1; s += e.value_c }
        (uid, n, s)
      }
      .toDF("user_id", "n_events", "spend_cents")
      .orderBy("user_id")
  }

  /** Slowly-changing-dimension type-2 history from the event stream:
    * per user, consecutive runs of the same `event_type` collapse into
    * one versioned validity interval `[valid_from_ms, valid_to_ms)`.
    * Change rows are `event_type <> lag(event_type)` over the total
    * order (ts_ms, event_id); each change closes the previous interval
    * (valid_to = next change's valid_from) and the open current row
    * carries the 9999-12-31 sentinel instead of NULL so downstream
    * range predicates (`valid_from <= t AND t < valid_to`) need no
    * null branch.
    *
    * Scale shape: both windows and the change filter share the
    * hash(user_id) partitioning — ONE exchange total; state per
    * partition is one lag row. The MERGE-style alternative (join
    * against the previous snapshot) is [[snapshotUpsert]]; this is the
    * full-history form.
    */
  def scd2(events: DataFrame): DataFrame = {
    val byTs = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    val changes = events
      .select(col("user_id"), col("event_type"), col("ts_ms"), col("event_id"))
      .withColumn("prev_type", lag("event_type", 1).over(byTs))
      .where(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    changes
      .withColumn("version", row_number().over(byTs).cast("long"))
      .withColumn("valid_to_ms",
        coalesce(lead("ts_ms", 1).over(byTs), lit(253402300799999L)))
      .select(col("user_id"), col("version"), col("event_type").as("state"),
        col("ts_ms").as("valid_from_ms"), col("valid_to_ms"))
      .orderBy("user_id", "version")
  }

  /** Point-in-time (as-of) lookup against the [[scd2]] dimension: each
    * purchase event joined to the state version valid at its
    * timestamp — the temporal-correctness join every feature pipeline
    * needs (training labels must see the dimension AS OF the event,
    * not today's row). Plans as an equality hash join on user_id with
    * the interval predicate as a residual filter — the dimension side
    * is the run-length-compressed history (change rows only), so the
    * per-user fan-out is version count, not event count; the
    * half-open `[from, to)` intervals partition time, so each purchase
    * matches exactly one version (no dedup step).
    */
  def scd2Lookup(events: DataFrame): DataFrame = {
    val dim = scd2(events)
    events.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_ms"))
      .join(dim, Seq("user_id"))
      .where(col("valid_from_ms") <= col("ts_ms") &&
        col("ts_ms") < col("valid_to_ms"))
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        col("state"), col("version"))
      .orderBy("event_id")
  }

  /** Open-order backlog curve by SWEEP LINE: each order contributes a
    * +1 delta at its order day and a −1 delta at its completion day
    * (max lineitem ship day); the backlog is the running sum of deltas
    * over the per-day rollup. This is the scale idiom for interval
    * stabbing counts — the naive form ("join every day against every
    * order whose interval covers it") is a range join with
    * days × open-orders fan-out; the sweep line is two scans, one
    * per-day shuffle, and a cumulative window over calendar-bounded
    * rows (the [[dailyMomentum]] bounded-window contract).
    */
  def openBacklog(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val opens = orders.select(
      expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
        .as("epoch_day"),
      lit(1L).as("opened"), lit(0L).as("closed"))
    val closes = lineitem.groupBy(col("l_orderkey"))
      .agg(max(expr("unix_millis(cast(l_shipdate as timestamp)) div 86400000"))
        .as("epoch_day"))
      .select(col("epoch_day"), lit(0L).as("opened"), lit(1L).as("closed"))
    val run = Window.orderBy("epoch_day")
      .rowsBetween(Window.unboundedPreceding, 0)
    opens.unionByName(closes)
      .groupBy("epoch_day")
      .agg(sum("opened").as("n_opened"), sum("closed").as("n_closed"))
      .withColumn("open_backlog",
        sum(col("n_opened") - col("n_closed")).over(run))
      .orderBy("epoch_day")
  }

  /** Integer least-squares slope of quantity on discount (the price
    * elasticity probe): with x = discount in whole percent and
    * y = quantity, emits the exact OLS numerator n·Σxy − Σx·Σy,
    * denominator n·Σx² − (Σx)², and the ppm slope (truncating, sign
    * handled identically by Spark `div` and DuckDB `//`). One fused
    * aggregation — five sums in a single scan, no second pass, no
    * mean-centering round-off. int64 headroom: |num| grows ~ n²·cov —
    * fine past 10⁸ rows at these value ranges; beyond that, downscale
    * the ppm factor or accumulate per-partition centered sums.
    */
  def discountSlope(lineitem: DataFrame): DataFrame =
    lineitem.select(
        expr("cast(round(l_discount * 100) as bigint)").as("x"),
        expr("cast(round(l_quantity) as bigint)").as("y"))
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"))
      .select(col("n"), col("sx"), col("sy"), col("sxy"), col("sxx"),
        expr("n * sxy - sx * sy").as("num"),
        expr("n * sxx - sx * sx").as("den"))
      .withColumn("slope_ppm", expr("num * 1000000 div den"))

  /** CUSUM change-point probe over the daily event volume: with the
    * truncating mean m, the cumulative deviation Sₜ = Σᵢ≤ₜ(xᵢ − m)
    * peaks (in absolute value) at the most likely regime-split day —
    * the classic offline CUSUM statistic, integer-exact. Emits the
    * argmax day (ties → earliest), its |S|, and the series frame. One
    * daily-rollup shuffle; the cumulative window and argmax run over
    * calendar-bounded rows.
    */
  def eventsCusumSplit(events: DataFrame): DataFrame = {
    val daily = events
      .withColumn("epoch_day", expr("ts_ms div 86400000"))
      .groupBy("epoch_day").agg(count(lit(1)).as("n"))
    val m = daily.agg(expr("sum(n) div count(1)").as("m"),
      count(lit(1)).as("n_days"))
    val run = Window.orderBy("epoch_day")
      .rowsBetween(Window.unboundedPreceding, 0)
    daily.crossJoin(broadcast(m))
      .withColumn("cusum", sum(col("n") - col("m")).over(run))
      .select(col("n_days"), col("m").as("mean_n"),
        col("epoch_day").as("split_day"), abs(col("cusum")).as("max_abs_cusum"))
      .orderBy(col("max_abs_cusum").desc, col("split_day"))
      .limit(1)
  }

  /** One keyed cent amount — the cogroup input shape on both sides. */
  final case class KeyCents(k: Long, c: Long)

  /** Per-customer merge of the order history and the event stream via
    * the TYPED `KeyValueGroupedDataset.cogroup` — both sides' rows for
    * one key arrive in a single closure invocation, the API for
    * per-key reconciliation logic that doesn't decompose into
    * join+agg (here it does — that's what makes it oracle-able; the
    * value is exercising the surface). Keys present on either side
    * appear once, with zero counts for the absent side.
    *
    * Scale shape: cogroup plans one hash exchange per side on the key
    * (same as a shuffle join) and streams each side's iterator — no
    * per-key materialization beyond the running sums here. Skewed keys
    * hit the same limits as any keyed shuffle (salt upstream if one
    * user dominates).
    */
  def cogroupUserActivity(events: DataFrame, orders: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val ev = events
      .select(col("user_id").as("k"), cents("value").as("c"))
      .as[KeyCents].groupByKey(_.k)
    val od = orders
      .select(col("o_custkey").cast("long").as("k"),
        cents("o_totalprice").as("c"))
      .as[KeyCents].groupByKey(_.k)
    ev.cogroup(od) { (k, evs, ods) =>
        var ne = 0L; var se = 0L
        evs.foreach { e => ne += 1; se += e.c }
        var no = 0L; var so = 0L
        ods.foreach { o => no += 1; so += o.c }
        Iterator((k, ne, se, no, so))
      }
      .toDF("user_id", "n_events", "events_cents", "n_orders", "orders_cents")
      .orderBy("user_id")
  }

  /** Distribution-position windows: percent_rank / cume_dist within
    * each event_type (keyed partitions — never a global single-partition
    * window), aggregated to quartile/half counts. The window order
    * (value_c, event_id) is total, so both functions are deterministic;
    * both engines compute (rank-1)/(n-1) and rank/n on identical
    * doubles, so the threshold comparisons agree bit-for-bit.
    */
  def eventsPercentRank(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type")
      .orderBy(col("value_c"), col("event_id"))
    events.select(col("event_type"), cents("value").as("value_c"),
        col("event_id"))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .groupBy("event_type")
      .agg(sum(when(col("pr") <= 0.25, 1L).otherwise(0L)).as("n_bottom_quartile"),
        sum(when(col("cd") <= 0.5, 1L).otherwise(0L)).as("n_lower_half"),
        sum(when(col("pr") <= 0.25, col("value_c"))).as("bottom_cents"))
      .orderBy("event_type")
  }

  /** Peak 10-minute spend per user: a RANGE frame (600 000 ms preceding
    * on ts_ms) — ties in event time all join the frame regardless of
    * row order, so the moving sum (and its max) is deterministic even
    * on duplicate timestamps, where a ROWS frame would not be.
    */
  def peakWindowSpend(events: DataFrame, windowMs: Long = 600000L): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_ms"))
      .rangeBetween(-windowMs, Window.currentRow)
    events.select(col("user_id"), col("ts_ms"), cents("value").as("value_c"))
      .withColumn("mv", sum("value_c").over(w))
      .groupBy("user_id")
      .agg(max("mv").as("peak_10min_cents"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** The pivot inverted: `unpivot` (melt) turns the per-user conditional
    * counts back into tall (user_id, metric, cnt) rows — the
    * wide→long reshape. Stays distributed: unpivot is a per-row
    * flatMap, no shuffle beyond the pivot's own aggregation.
    */
  def eventTypeMelt(events: DataFrame): DataFrame = {
    val wide = eventTypePivot(events)
    wide.unpivot(Array(col("user_id")),
        wide.columns.filter(_ != "user_id").map(col),
        "metric", "cnt")
      .orderBy("user_id", "metric")
  }

  /** TPC-H Q2-shaped min-cost supplier: the correlated min-subquery
    * becomes a per-part min aggregate joined back on (part, cost) —
    * the standard decorrelation. No partsupp table here, so the "offer"
    * is each supplier's cheapest lineitem price for the part. The part
    * filter lands BEFORE both aggregates (it's per-part, so it commutes
    * with the min), shrinking the only big shuffle.
    */
  def q2MinCostSupplier(spark: SparkSession, dir: String,
                        maxSize: Int = 15): DataFrame = {
    val smallParts = Tables.part(spark, dir)
      .where(col("p_size") <= maxSize).select("p_partkey")
    // one exchange total before the dimension joins: repartition by part
    // ONCE — hash(pk) clusters (pk, sk) for the aggregate AND pk for the
    // per-part-min window, so neither adds a shuffle (the aggregate +
    // self-join decorrelation planned 5 exchanges with no reuse)
    val offers = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        round(col("l_extendedprice") * 100).cast("long").as("price_c"))
      .join(broadcast(smallParts), col("l_partkey") === col("p_partkey"))
      .repartition(col("l_partkey"))
      .groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .agg(min("price_c").as("cost_c"))
    val supNation = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"),
        round(col("s_acctbal") * 100).cast("long").as("bal_c"),
        col("n_name").as("nation"))
    offers
      .withColumn("mc", min("cost_c").over(Window.partitionBy("pk")))
      .where(col("cost_c") === col("mc"))
      .join(broadcast(supNation), col("sk") === col("s_suppkey"))
      .select(col("pk").as("p_partkey"), col("sk").as("s_suppkey"),
        col("cost_c"), col("s_name"), col("bal_c"), col("nation"))
      .orderBy(col("bal_c").desc, col("p_partkey"), col("s_suppkey"))
      .limit(100)
  }

  /** TPC-H Q11-shaped important parts: per-part inventory value for a
    * supplier-nation group, kept only when it exceeds a fraction of the
    * grand total. The scalar subquery is a 1-row broadcast and the
    * threshold is integer cross-multiplied (value·10⁴ > total·12, i.e.
    * 0.12%), so both engines agree bit-for-bit on the boundary.
    */
  def q11ImportantParts(spark: SparkSession, dir: String,
                        nations: Seq[String] = Seq("NATION_1", "NATION_2", "NATION_3")): DataFrame = {
    val natSup = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
          .where(col("n_name").isin(nations: _*))),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val value = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"), revCents)
      .join(broadcast(natSup), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(sum("rev_c").as("value_c"))
    value.join(broadcast(value.agg(sum("value_c").as("t"))))
      .where(col("value_c") * 10000 > col("t") * 12)
      .select("p_partkey", "value_c")
      .orderBy(col("value_c").desc, col("p_partkey"))
  }

  /** TPC-H Q16-shaped supplier count per (brand, size bucket): the
    * NOT-IN complaints subquery is a broadcast left-anti join against
    * negative-balance suppliers; count(DISTINCT suppkey) carries the
    * dedup through the aggregate (partial distinct before the brand
    * shuffle).
    */
  def q16SupplierCount(spark: SparkSession, dir: String,
                       excludeBrands: Seq[String] = Seq("Brand#1", "Brand#2")): DataFrame = {
    val complaints = Tables.supplier(spark, dir)
      .where(col("s_acctbal") < 0).select("s_suppkey")
    Tables.lineitem(spark, dir).select("l_partkey", "l_suppkey")
      .join(broadcast(Tables.part(spark, dir)
          .where(!col("p_brand").isin(excludeBrands: _*))
          .select("p_partkey", "p_brand", "p_size")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(complaints),
        col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"),
        expr("CAST(p_size div 10 AS BIGINT)").as("size_bucket"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("size_bucket"))
  }

  /** TPC-H Q20-shaped promotion suppliers: two nested IN-subqueries as
    * semi-joins — parts by name (broadcast) gate the lineitem scan, the
    * HAVING-filtered per-supplier quantity gates the supplier list
    * (left-semi). Only aggregated rows cross the final join.
    */
  def q20PromotionSuppliers(spark: SparkSession, dir: String,
                            nameLike: String = "widget",
                            nations: Seq[String] = Seq("NATION_1", "NATION_2", "NATION_3", "NATION_4"),
                            minCentiQty: Long = 5000L): DataFrame = {
    val namedParts = Tables.part(spark, dir)
      .where(col("p_name").contains(nameLike)).select("p_partkey")
    val heavy = Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1998-01-01"))
      .select(col("l_partkey"), col("l_suppkey"),
        round(col("l_quantity") * 100).cast("long").as("centiqty"))
      .join(broadcast(namedParts), col("l_partkey") === col("p_partkey"),
        "left_semi")
      .groupBy("l_suppkey")
      .agg(sum("centiqty").as("sq"))
      .where(col("sq") > minCentiQty)
    Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
          .where(col("n_name").isin(nations: _*))),
        col("s_nationkey") === col("n_nationkey"))
      .join(heavy, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_suppkey", "s_name")
      .orderBy("s_suppkey")
  }

  /** TPC-H Q21-shaped waiting suppliers: the EXISTS/NOT-EXISTS pair
    * over sibling lineitems decorrelates into one per-order aggregate
    * (distinct suppliers, distinct LATE suppliers) joined back — a
    * qualifying line is late, shares its finished order with another
    * supplier, and is the ONLY late supplier on it. "Late" is a
    * ship-vs-order delay > 365 days (this testdata has no
    * commit/receipt dates).
    */
  def q21WaitingSuppliers(spark: SparkSession, dir: String,
                          lateDays: Int = 365): DataFrame = {
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(Tables.orders(spark, dir).where(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (expr("(unix_millis(cast(l_shipdate AS timestamp)) - " +
          "unix_millis(cast(o_orderdate AS timestamp))) div 86400000")
          > lateDays).as("late"))
    val ostats = li.groupBy(col("l_orderkey").as("ok"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(when(col("late"), col("l_suppkey"))).as("n_late"))
    li.where(col("late"))
      .join(ostats, col("l_orderkey") === col("ok"))
      .where(col("n_supp") > 1 && col("n_late") === 1)
      .select("l_orderkey", "l_suppkey").distinct()
      .join(broadcast(Tables.supplier(spark, dir)
        .select("s_suppkey", "s_name")), col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  /** DAU / WAU stickiness: daily active users over 7-day-window active
    * users, in ppm. The rolling DISTINCT is rewritten as an explode —
    * each (user, day) activity emits the 7 window-end days it
    * contributes to, then a plain distinct+count per window — because
    * a windowed `count(DISTINCT)` has no partial-aggregate form (it
    * would buffer per-frame user sets); the explode costs exactly 7×
    * the (user, day) pair volume and every aggregate stays
    * map-side-combinable. Output is trimmed to observed days.
    */
  def dauWau(events: DataFrame): DataFrame = {
    val ud = events
      .select(expr("ts_ms div 86400000").as("d"), col("user_id"))
      .distinct()
    val dau = ud.groupBy("d").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(explode(expr("sequence(d, d + 6)")).as("w"), col("user_id"))
      .distinct()
      .groupBy("w").agg(count(lit(1)).as("wau"))
    dau.join(wau, col("d") === col("w"))
      .select(col("d").as("epoch_day"), col("dau"), col("wau"),
        expr("dau * 1000000 div wau").as("stickiness_ppm"))
      .orderBy("epoch_day")
  }

  /** Daily error-rate in ppm — the simplest pipeline-health series
    * beside [[anomalyDow]]'s baselines: one shuffle to per-day
    * conditional counts, the rate a truncating integer division.
    */
  def errorRateDaily(events: DataFrame): DataFrame =
    events
      .select(expr("ts_ms div 86400000").as("epoch_day"),
        when(col("event_type") === "error", 1L).otherwise(0L).as("is_err"))
      .groupBy("epoch_day")
      .agg(count(lit(1)).as("n_events"), sum("is_err").as("n_errors"))
      .select(col("epoch_day"), col("n_events"), col("n_errors"),
        expr("n_errors * 1000000 div n_events").as("err_ppm"))
      .orderBy("epoch_day")

  /** RFM customer segmentation: recency (last order epoch-day),
    * frequency (order count), monetary (cents spend) each quartiled
    * against GLOBAL interpolated cut points (one tiny percentile
    * aggregate broadcast back — the customerSpendTiers pattern ×3, no
    * global window sort), then customers roll up per "R-F-M" segment
    * label. Integer facts vs double cuts: both engines interpolate the
    * cuts identically, and `v > cut` on a BIGINT vs that double is the
    * same boolean everywhere.
    */
  def rfmSegments(orders: DataFrame): DataFrame = {
    val per = orders.groupBy("o_custkey").agg(
      expr("max(unix_millis(cast(o_orderdate AS timestamp)) div 86400000)")
        .as("last_day"),
      count(lit(1)).as("freq"),
      sum(cents("o_totalprice")).as("monetary_c"))
    val cuts = per.agg(
      expr("percentile(last_day, array(0.25D, 0.5D, 0.75D))").as("rq"),
      expr("percentile(freq, array(0.25D, 0.5D, 0.75D))").as("fq"),
      expr("percentile(monetary_c, array(0.25D, 0.5D, 0.75D))").as("mq"))
    def tier(v: String, q: String) = expr(
      s"1L + if($v > $q[0], 1L, 0L) + if($v > $q[1], 1L, 0L) + " +
        s"if($v > $q[2], 1L, 0L)")
    per.crossJoin(broadcast(cuts))
      .select(concat_ws("-", tier("last_day", "rq"), tier("freq", "fq"),
        tier("monetary_c", "mq")).as("segment"), col("monetary_c"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_customers"),
        sum("monetary_c").as("sum_monetary_c"))
      .orderBy("segment")
  }

  /** Funnel conversion-time distribution: for each adjacent stage pair
    * of the [[funnel]] (first view → first subsequent signup → first
    * subsequent purchase), the per-user conversion delay's count,
    * min/max, and interpolated p50/p90 (`percentile` ==
    * `quantile_cont` bit-exactly).
    *
    * Shape: three conditional-min aggregations over one user_id
    * shuffle each (the funnel frames), then user-level joins and a
    * two-row rollup — event volume only touches the first aggregation.
    */
  def conversionTime(events: DataFrame): DataFrame = {
    val firstView = events.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts_ms").as("v_ms"))
    val firstSignup = events.where(col("event_type") === "signup")
      .join(firstView, "user_id").where(col("ts_ms") > col("v_ms"))
      .groupBy("user_id").agg(min("ts_ms").as("s_ms"))
    val firstPurchase = events.where(col("event_type") === "purchase")
      .join(firstSignup, "user_id").where(col("ts_ms") > col("s_ms"))
      .groupBy("user_id").agg(min("ts_ms").as("p_ms"))
    val d1 = firstSignup.join(firstView, "user_id")
      .select(lit("view>signup").as("stage"),
        (col("s_ms") - col("v_ms")).as("delta"))
    val d2 = firstPurchase.join(firstSignup, "user_id")
      .select(lit("signup>purchase").as("stage"),
        (col("p_ms") - col("s_ms")).as("delta"))
    d1.unionByName(d2).groupBy("stage")
      .agg(count(lit(1)).as("n"), min("delta").as("min_ms"),
        max("delta").as("max_ms"),
        expr("percentile(delta, 0.5D)").as("p50_ms"),
        expr("percentile(delta, 0.9D)").as("p90_ms"))
      .orderBy("stage")
  }

  /** Seasonal (day-of-week) anomaly detection on daily event volume:
    * each (epoch_day, event_type) count compares against the MEDIAN
    * count of its weekday×type cohort; days above 1.5× or below 0.5×
    * the baseline flag `high`/`low`. Medians are exact interpolated
    * positional medians carried in DOUBLED units (`2·cnt` midpoints of
    * two even ints are integers — the events_value_mad trick), and the
    * thresholds are integer cross-multiplications (`4·cnt > 3·med2`,
    * `2·cnt < med2`) — no float anywhere in the decision.
    *
    * Shape: one shuffle to daily (day, type) counts — rows = days ×
    * types regardless of event volume — then a tiny 7×types baseline
    * aggregate broadcast back. The partial first/last days of a
    * corpus genuinely flag `low`: a real pipeline-health signal, and
    * what keeps this gate non-vacuous on the fixture.
    */
  def anomalyDow(events: DataFrame): DataFrame = {
    val daily = events
      .select(expr("ts_ms div 86400000").as("epoch_day"), col("event_type"))
      .groupBy("epoch_day", "event_type").agg(count(lit(1)).as("cnt"))
      .withColumn("dow", expr("(epoch_day + 4) % 7"))
    val base = daily
      .groupBy(col("dow"), col("event_type").as("et"))
      .agg(expr("CAST(percentile(cnt * 2, 0.5D) AS BIGINT)").as("med2"))
    daily
      .join(broadcast(base),
        daily("dow") === base("dow") && col("event_type") === col("et"))
      .select(col("epoch_day"), col("event_type"), col("cnt"), col("med2"),
        when(col("cnt") * 4 > col("med2") * 3, lit("high"))
          .when(col("cnt") * 2 < col("med2"), lit("low")).as("anomaly"))
      .where(col("anomaly").isNotNull)
      .orderBy("epoch_day", "event_type")
  }

  /** Customer-journey path mining: the top `topK` opening event-type
    * sequences (length exactly `pathLen`, rendered `a>b>c`) across all
    * sessions (gap rule as [[sessions]]).
    *
    * Shape: session id AND in-session position both come from ONE
    * (user_id)-keyed window pass — position is recovered as
    * `global_rn − rn_at_session_start + 1`, where the session start's
    * global row number is carried by a running `last(..., ignoreNulls)`
    * over the SAME partition+order (no second exchange on
    * (user_id, session_id) for a row_number). Rows beyond `pathLen`
    * drop BEFORE the per-session rollup, so the session aggregation
    * sees ≤ pathLen rows per session; short sessions leave via
    * `count = pathLen`. Path assembly is a sorted-struct transform
    * (the collect_list order is made irrelevant), and the final path
    * count is a tiny aggregate.
    */
  def journeyPaths(events: DataFrame, gapSec: Long = 1800,
                   pathLen: Int = 3, topK: Int = 20): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val kept = events
      .select(col("user_id"), col("event_id"), col("ts_ms"), col("event_type"))
      .withColumn("prev_ms", lag("ts_ms", 1).over(byUser))
      .withColumn("is_new", when(col("prev_ms").isNull ||
        (col("ts_ms") - col("prev_ms") > gapSec * 1000), 1L).otherwise(0L))
      .withColumn("session_id", sum("is_new").over(run))
      .withColumn("grn", row_number().over(byUser))
      .withColumn("srn", last(when(col("is_new") === 1L, col("grn")),
        ignoreNulls = true).over(run))
      .withColumn("pos", col("grn") - col("srn") + 1L)
      .where(col("pos") <= pathLen)
    kept
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n"),
        concat_ws(">", transform(
          sort_array(collect_list(struct(col("pos"), col("event_type")))),
          x => x.getField("event_type"))).as("path"))
      .where(col("n") === pathLen)
      .groupBy("path")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(topK)
  }

  /** Last-touch marketing attribution: each purchase is credited to
    * the user's most recent PRIOR `click`/`view` within `windowMs`
    * (else `direct`), then purchase count + cents revenue roll up per
    * channel.
    *
    * Shape: ONE shuffle on user_id for the window pass — the carried
    * "last marketing touch" is `last(..., ignoreNulls)` over
    * `ROWS UNBOUNDED PRECEDING .. 1 PRECEDING` in (ts_ms, event_id)
    * order (total, so deterministic), which Spark evaluates as a
    * running frame in a single sorted sweep per user — no self-join of
    * purchases against touch history (the naive formulation is a
    * per-purchase range join). The two carried columns (`ts`, type)
    * come from the same frame and the same non-null predicate, so they
    * always describe the SAME touch row. Channel rollup is a
    * three-row aggregate.
    */
  def lastTouchAttribution(events: DataFrame,
                           windowMs: Long = 604800000L): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type").isin("click", "view"), col("ts_ms"))
    val touchType =
      when(col("event_type").isin("click", "view"), col("event_type"))
    events
      .withColumn("lt_ms", last(touch, ignoreNulls = true).over(w))
      .withColumn("lt_type", last(touchType, ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .select(
        when(col("lt_ms").isNotNull && col("lt_ms") >= col("ts_ms") - windowMs,
          col("lt_type")).otherwise(lit("direct")).as("channel"),
        cents("value").as("value_c"))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_purchases"), sum("value_c").as("sum_cents"))
      .orderBy("channel")
  }

  /** Integer EWMA (α = 1/2, truncating) of daily event counts per
    * type: s₁ = n₁, sₜ = (nₜ + sₜ₋₁) div 2 — the halving recurrence
    * stays in exact integers, so the DuckDB recursive-CTE oracle
    * reproduces it bit-for-bit (no float smoothing-order hazard).
    *
    * The sequential fold runs as an `aggregate` lambda over each
    * type's collected daily series — interpreted, but the input is the
    * per-(type, day) ROLLUP (≤ types × days rows at any corpus size),
    * not raw events; the single shuffle is the daily aggregation. The
    * per-type array is bounded by the calendar, the same contract as
    * [[weeklyFromDaily]].
    */
  def eventsEwma(events: DataFrame): DataFrame = {
    val daily = events
      .withColumn("epoch_day", expr("ts_ms div 86400000"))
      .groupBy("event_type", "epoch_day").agg(count(lit(1)).as("n"))
    daily.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("epoch_day"), col("n"))))
        .as("xs"))
      .select(col("event_type"), explode(expr(
        """aggregate(xs,
          |  struct(cast(array() as array<struct<epoch_day:bigint,n:bigint,ewma:bigint>>) as out,
          |         cast(-1 as bigint) as s),
          |  (acc, x) -> struct(
          |    concat(acc.out, array(named_struct(
          |      'epoch_day', cast(x.epoch_day as bigint),
          |      'n', cast(x.n as bigint),
          |      'ewma', cast(if(acc.s < 0, x.n, (x.n + acc.s) div 2) as bigint)))) as out,
          |    cast(if(acc.s < 0, x.n, (x.n + acc.s) div 2) as bigint) as s),
          |  acc -> acc.out)""".stripMargin)).as("r"))
      .select(col("event_type"), col("r.epoch_day").as("epoch_day"),
        col("r.n").as("n"), col("r.ewma").as("ewma"))
      .orderBy("event_type", "epoch_day")
  }

  /** Rolling-origin backtest of the α = 1/2 EWMA forecaster: for every
    * day after the first, the one-step-ahead forecast is the EWMA state
    * BEFORE that day; report per type the evaluated-day count, the mean
    * absolute error and the mean signed error (both ×1000, truncating)
    * — the "would this forecaster have worked" evaluation loop, folded
    * in one pass over each type's calendar-bounded daily series (same
    * shape as [[eventsEwma]]: one rollup shuffle, then per-row fold).
    */
  def ewmaBacktest(events: DataFrame): DataFrame = {
    val daily = events
      .withColumn("epoch_day", expr("ts_ms div 86400000"))
      .groupBy("event_type", "epoch_day").agg(count(lit(1)).as("n"))
    daily.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("epoch_day"), col("n"))))
        .as("xs"))
      .select(col("event_type"), expr(
        """aggregate(xs,
          |  struct(cast(-1 as bigint) as s, cast(0 as bigint) as n_eval,
          |         cast(0 as bigint) as abs_sum, cast(0 as bigint) as err_sum),
          |  (acc, x) -> struct(
          |    cast(if(acc.s < 0, x.n, (x.n + acc.s) div 2) as bigint) as s,
          |    cast(acc.n_eval + if(acc.s < 0, 0, 1) as bigint) as n_eval,
          |    cast(acc.abs_sum + if(acc.s < 0, 0, abs(x.n - acc.s)) as bigint) as abs_sum,
          |    cast(acc.err_sum + if(acc.s < 0, 0, x.n - acc.s) as bigint) as err_sum))""".stripMargin)
        .as("a"))
      .select(col("event_type"), col("a.n_eval").as("n_eval"),
        expr("a.abs_sum * 1000 div greatest(1L, a.n_eval)").as("mae_x1000"),
        expr("a.err_sum * 1000 div greatest(1L, a.n_eval)").as("bias_x1000"))
      .orderBy("event_type")
  }

  /** Holt double-exponential smoothing (level + trend) of daily event
    * counts per type, integer-exact with α = β = 1/2: l₁ = n₁, b₁ = 0,
    * then lₜ = (nₜ + lₜ₋₁ + bₜ₋₁) div 2 and
    * bₜ = (lₜ − lₜ₋₁ + bₜ₋₁) div 2 — [[eventsEwma]]'s halving
    * recurrence extended with a trend term (so a steadily growing
    * series doesn't lag the way single smoothing does). The trend can
    * go negative; `div` truncates toward zero identically in both
    * engines. Same shape as the EWMA fold: one daily-rollup shuffle,
    * then an in-memory fold over each type's calendar-bounded series.
    */
  def eventsHolt(events: DataFrame): DataFrame = {
    val daily = events
      .withColumn("epoch_day", expr("ts_ms div 86400000"))
      .groupBy("event_type", "epoch_day").agg(count(lit(1)).as("n"))
    daily.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("epoch_day"), col("n"))))
        .as("xs"))
      .select(col("event_type"), explode(expr(
        """aggregate(xs,
          |  struct(cast(array() as array<struct<epoch_day:bigint,n:bigint,level:bigint,trend:bigint>>) as out,
          |         cast(-1 as bigint) as l, cast(0 as bigint) as b,
          |         false as has),
          |  (acc, x) -> struct(
          |    concat(acc.out, array(named_struct(
          |      'epoch_day', cast(x.epoch_day as bigint),
          |      'n', cast(x.n as bigint),
          |      'level', cast(if(NOT acc.has, x.n,
          |        (x.n + acc.l + acc.b) div 2) as bigint),
          |      'trend', cast(if(NOT acc.has, 0L,
          |        ((x.n + acc.l + acc.b) div 2 - acc.l + acc.b) div 2) as bigint)))) as out,
          |    cast(if(NOT acc.has, x.n, (x.n + acc.l + acc.b) div 2) as bigint) as l,
          |    cast(if(NOT acc.has, 0L,
          |      ((x.n + acc.l + acc.b) div 2 - acc.l + acc.b) div 2) as bigint) as b,
          |    true as has),
          |  acc -> acc.out)""".stripMargin)).as("r"))
      .select(col("event_type"), col("r.epoch_day").as("epoch_day"),
        col("r.n").as("n"), col("r.level").as("level"),
        col("r.trend").as("trend"))
      .orderBy("event_type", "epoch_day")
  }

  /** Per-part monthly quantity trend — GROUPED integer least squares
    * (the per-key form of [[discountSlope]]): x = calendar month index
    * (year·12 + month), y = the part's quantity that month; each
    * part's exact OLS slope numerator/denominator come from one fused
    * five-sum aggregate, top `topK` by (slope desc, part). Parts seen
    * in < 2 distinct months carry no slope and are filtered (den = 0).
    * Two map-side-combinable shuffles — (part, month) rollup, then
    * part — and a TakeOrderedAndProject; no window, no per-key scan.
    */
  def partMonthlyTrend(lineitem: DataFrame, topK: Int = 20): DataFrame =
    lineitem.select(col("l_partkey"),
        expr("year(l_shipdate) * 12 + month(l_shipdate)").cast("long").as("m"),
        expr("cast(round(l_quantity) as bigint)").as("q"))
      .groupBy("l_partkey", "m").agg(sum("q").as("y"))
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n_months"), sum("m").as("sx"), sum("y").as("sy"),
        sum(expr("m * y")).as("sxy"), sum(expr("m * m")).as("sxx"))
      .select(col("l_partkey"), col("n_months"),
        expr("n_months * sxy - sx * sy").as("num"),
        expr("n_months * sxx - sx * sx").as("den"))
      .where(col("den") > 0)
      .withColumn("slope_ppm", expr("num * 1000000 div den"))
      .orderBy(col("slope_ppm").desc, col("l_partkey"))
      .limit(topK)

  /** A/B experiment readout with DETERMINISTIC arm assignment: users
    * hash into arm 0/1 by md5 parity (the hash-based bucketing every
    * experimentation system uses — stable across sessions, no RNG, no
    * assignment table), and each arm reports exposed users, converted
    * users (≥ 1 HIGH-VALUE purchase — `value ≥ convCents/100`; the
    * any-purchase predicate converts ~100 % of the synthetic corpus,
    * so the rate column would carry no signal), and the ppm conversion
    * rate. Shape: one per-user rollup (the conversion flag rides the
    * same shuffle), then a 2-row arm aggregate — no distinct-count
    * expansion, no second scan.
    */
  def abTestReport(events: DataFrame, convCents: Long = 15000L): DataFrame =
    events
      .select(col("user_id"),
        (col("event_type") === "purchase" &&
          expr("cast(round(value * 100) as bigint)") >= convCents)
          .cast("long").as("p"))
      .groupBy("user_id").agg(max("p").as("converted"))
      .withColumn("arm", pmod(expr(
        "cast(conv(substr(md5(cast(user_id as string)), 1, 15), 16, 10) as bigint)"),
        lit(2L)))
      .groupBy("arm")
      .agg(count(lit(1)).as("n_users"), sum("converted").as("n_converted"))
      .withColumn("conv_ppm", expr("n_converted * 1000000 div n_users"))
      .orderBy("arm")

  /** Year-over-year revenue growth per nation: per (nation, year)
    * lineitem revenue in cents joined to the prior year, growth in
    * ppm of the prior year (sign-truncating div, engine-identical).
    * Shape: revenue rolls up to nation×year rows before any join —
    * the YoY self-join runs on a frame thousands of times smaller
    * than the fact table; the nation dimension broadcasts.
    */
  def nationYoyRevenue(lineitem: DataFrame, supplier: DataFrame,
                       nation: DataFrame): DataFrame = {
    val rev = lineitem
      .join(supplier.select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation.select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        expr("cast(year(l_shipdate) as bigint)").as("yr"))
      .agg(sum(expr("cast(round(l_extendedprice * 100) as bigint)"))
        .as("cents"))
    rev.as("cur")
      .join(rev.as("prev"),
        col("cur.n_name") === col("prev.n_name") &&
          col("cur.yr") === col("prev.yr") + 1)
      .select(col("cur.n_name").as("n_name"), col("cur.yr").as("yr"),
        col("cur.cents").as("cents"), col("prev.cents").as("prev_cents"))
      .withColumn("yoy_ppm",
        expr("(cents - prev_cents) * 1000000 div prev_cents"))
      .orderBy("n_name", "yr")
  }

  /** Event-type DISTRIBUTION drift between the first and second half
    * of the time range (data-derived midpoint): per type, the ppm
    * share in each half and the absolute delta — Σ delta is 2× the
    * total-variation distance in ppm, the log-free sibling of PSI.
    * One fused conditional aggregation per type; the midpoint is a
    * 1-row broadcast.
    */
  def eventTypeDrift(events: DataFrame): DataFrame = {
    val mid = events.agg(expr("(min(ts_ms) + max(ts_ms)) div 2").as("mid"))
    events.crossJoin(broadcast(mid))
      .select(col("event_type"), (col("ts_ms") < col("mid")).as("lo"))
      .groupBy("event_type")
      .agg(sum(when(col("lo"), 1L).otherwise(0L)).as("c_a"),
        sum(when(!col("lo"), 1L).otherwise(0L)).as("c_b"))
      .withColumn("tot_a", sum("c_a").over(Window.partitionBy()))
      .withColumn("tot_b", sum("c_b").over(Window.partitionBy()))
      .select(col("event_type"), col("c_a"), col("c_b"),
        expr("c_a * 1000000 div tot_a").as("share_a_ppm"),
        expr("c_b * 1000000 div tot_b").as("share_b_ppm"),
        expr("abs(c_a * 1000000 div tot_a - c_b * 1000000 div tot_b)")
          .as("delta_ppm"))
      .orderBy("event_type")
  }

  /** Order-size histogram: (lineitems per order → number of orders) —
    * the basket-size distribution behind every market-basket op. Two
    * map-side-combinable aggregations, second over order-sized rows.
    */
  def orderSizeHistogram(lineitem: DataFrame): DataFrame =
    lineitem.groupBy("l_orderkey").agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("order_size"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("order_size")

  /** Error-BURST detector at hourly grain: hours whose error count
    * exceeds 1.5× their own day's mean over OBSERVED error hours —
    * as an integer cross-multiplication `cnt·n_hours·2 > 3·day_total`
    * (no division, no float). Normalizing by observed hours (not a
    * fixed 24) keeps the rule meaningful at both sparse and dense
    * traffic: against /24 a sparse corpus flags every hour and a
    * dense one flags none. Hourly and daily rollups share one shuffle
    * chain; output is only the bursting hours.
    */
  def errorBursts(events: DataFrame): DataFrame = {
    val hourly = events.where(col("event_type") === "error")
      .select(expr("ts_ms div 3600000").as("epoch_hour"))
      .groupBy("epoch_hour").agg(count(lit(1)).as("n_errors"))
      .withColumn("epoch_day", expr("epoch_hour div 24"))
    val daily = hourly.groupBy("epoch_day")
      .agg(sum("n_errors").as("day_errors"),
        count(lit(1)).as("n_hours"))
    hourly.join(daily, "epoch_day")
      .where(col("n_errors") * col("n_hours") * 2 > col("day_errors") * 3)
      .select(col("epoch_hour"), col("n_errors"), col("day_errors"),
        col("n_hours"))
      .orderBy("epoch_hour")
  }

  /** Ingestion-coverage report: per day, how many of the 1440 minutes
    * carry at least one event and how many are silent — the
    * data-freshness panel that distinguishes "traffic dipped" from
    * "the pipe stopped". Two map-side-combinable rollups ((day,
    * minute) distinct, then day); output is calendar-bounded.
    */
  def ingestionGaps(events: DataFrame): DataFrame =
    events.select(expr("ts_ms div 60000").as("epoch_min"))
      .distinct()
      .groupBy(expr("epoch_min div 1440").as("epoch_day"))
      .agg(count(lit(1)).as("observed_min"))
      .select(col("epoch_day"), col("observed_min"),
        (lit(1440L) - col("observed_min")).as("missing_min"))
      .orderBy("epoch_day")

  /** Cohort LTV TRIANGLE: customers grouped by first-order month,
    * revenue accumulated per months-since-acquisition offset — the
    * "does a newer cohort monetize faster" matrix under every
    * retention deck. Cohort month per customer is one min-aggregate
    * joined back to orders (customer-keyed, co-partitioned); the
    * triangle itself is cohorts × offsets rows.
    */
  def cohortLtv(orders: DataFrame): DataFrame = {
    val withMonth = orders.select(col("o_custkey"),
      expr("cast(year(o_orderdate) * 12 + month(o_orderdate) as bigint)")
        .as("m"),
      expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
    val cohort = withMonth.groupBy("o_custkey")
      .agg(min("m").as("cohort_m"))
    withMonth.join(cohort, "o_custkey")
      .groupBy(col("cohort_m"), (col("m") - col("cohort_m")).as("offset_m"))
      .agg(countDistinct("o_custkey").as("n_customers"),
        sum("cents").as("cents"))
      .orderBy("cohort_m", "offset_m")
  }

  /** Daily NEW vs RETURNING user split: a user's first-seen day is
    * one min-aggregate; each (user, day) activity row is new exactly
    * on that day — the acquisition-vs-retention curve every growth
    * dashboard opens with. Two map-side-combinable shuffles ((user,
    * day) rollup, then day), plus the user-keyed first-seen join.
    */
  def newVsReturning(events: DataFrame): DataFrame = {
    val userDays = events
      .withColumn("epoch_day", expr("ts_ms div 86400000"))
      .select("user_id", "epoch_day").distinct()
    val firstSeen = userDays.groupBy("user_id")
      .agg(min("epoch_day").as("first_day"))
    userDays.join(firstSeen, "user_id")
      .groupBy("epoch_day")
      .agg(sum(when(col("epoch_day") === col("first_day"), 1L)
        .otherwise(0L)).as("n_new"),
        sum(when(col("epoch_day") =!= col("first_day"), 1L)
          .otherwise(0L)).as("n_returning"))
      .orderBy("epoch_day")
  }

  /** Usage heatmap: event counts by (day-of-week, hour-of-day) — the
    * wall-clock activity matrix behind every traffic dashboard.
    * Day-of-week is epoch-day mod 7 (day 0 = Thursday), hour is epoch
    * arithmetic — both engines compute the identical integers with no
    * timezone machinery. One fused two-key aggregation, ≤ 168 rows.
    */
  def hourDowHeatmap(events: DataFrame): DataFrame =
    events.select(
        expr("(ts_ms div 86400000) % 7").as("dow"),
        expr("(ts_ms % 86400000) div 3600000").as("hour"))
      .groupBy("dow", "hour").agg(count(lit(1)).as("n"))
      .orderBy("dow", "hour")

  /** Session-level summary over [[sessions]]: session count and the
    * quartiles of session duration (ms) and events-per-session — the
    * canonical engagement rollup. `percentile` = `quantile_cont`
    * parity holds (quarter points over integer ms/counts); the
    * quantile input is sessions-sized, one rollup past the session
    * window's user-keyed exchange.
    */
  def sessionStats(events: DataFrame, gapSec: Long = 1800L): DataFrame =
    sessions(events, gapSec)
      .select((col("end_ms") - col("start_ms")).as("dur_ms"),
        col("n_events"))
      .agg(count(lit(1)).as("n_sessions"),
        expr("percentile(dur_ms, array(0.25D, 0.5D, 0.75D))").as("dq"),
        expr("percentile(n_events, array(0.25D, 0.5D, 0.75D))").as("eq"))
      .select(col("n_sessions"),
        col("dq")(0).as("dur_p25"), col("dq")(1).as("dur_p50"),
        col("dq")(2).as("dur_p75"),
        col("eq")(0).as("ev_p25"), col("eq")(1).as("ev_p50"),
        col("eq")(2).as("ev_p75"))

  /** Supplier SCORECARD: per supplier the shipped-item volume, return
    * rate in ppm, and truncating-mean ship lag (ship day − order day)
    * — the procurement health rollup combining the quality and
    * latency signals in one pass. One fact-side join to orders on the
    * order key (both fact-sized, co-keyed), one supplier rollup, top
    * `topK` worst by return rate.
    */
  def supplierScorecard(lineitem: DataFrame, orders: DataFrame,
                        topK: Int = 50): DataFrame =
    lineitem.select(col("l_suppkey"), col("l_orderkey"),
        col("l_returnflag"),
        expr("unix_millis(cast(l_shipdate as timestamp)) div 86400000")
          .as("ship_day"))
      .join(orders.select(col("o_orderkey"),
        expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
          .as("order_day")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .as("n_returned"),
        sum(col("ship_day") - col("order_day")).as("lag_sum"))
      .select(col("l_suppkey"), col("n_items"), col("n_returned"),
        expr("n_returned * 1000000 div n_items").as("return_ppm"),
        expr("lag_sum div n_items").as("mean_lag_days"))
      .orderBy(col("return_ppm").desc, col("l_suppkey"))
      .limit(topK)

  /** Fulfillment-lag SLA report: days from order to FIRST shipment,
    * quartiles per order priority (`percentile` = `quantile_cont` at
    * quarter points over integer days — engine-exact, the established
    * parity window). The per-order min-ship rollup happens before the
    * lag join, so the quantile input is orders-sized.
    */
  def fulfillmentLag(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val firstShip = lineitem.groupBy("l_orderkey")
      .agg(min(expr("unix_millis(cast(l_shipdate as timestamp)) div 86400000"))
        .as("ship_day"))
    orders.select(col("o_orderkey"), col("o_orderpriority"),
        expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
          .as("order_day"))
      .join(firstShip, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"),
        (col("ship_day") - col("order_day")).as("lag_days"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        expr("percentile(lag_days, array(0.25D, 0.5D, 0.75D))").as("qs"))
      .select(col("o_orderpriority"), col("n"),
        col("qs")(0).as("p25"), col("qs")(1).as("p50"), col("qs")(2).as("p75"))
      .orderBy("o_orderpriority")
  }

  /** Recency-weighted customer lifetime value with EXACT exponential
    * decay: each order's cents are right-shifted by its age in months
    * (30-day buckets) at the data-derived snapshot — halving per month
    * is `>>`, integer-exact in both engines, no float pow. Top `topK`
    * customers by decayed value. One order scan + one customer
    * rollup; the snapshot anchor is a 1-row broadcast.
    */
  def customerClvDecay(orders: DataFrame, topK: Int = 20): DataFrame = {
    val withDay = orders.select(col("o_custkey"),
      expr("cast(round(o_totalprice * 100) as bigint)").as("cents"),
      expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
        .as("od"))
    val anchor = withDay.agg(max("od").as("snap"))
    withDay.crossJoin(broadcast(anchor))
      .withColumn("age_m", expr("least((snap - od) div 30, 62L)"))
      .withColumn("decayed",
        expr("shiftright(cents, cast(age_m as int))"))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"), sum("cents").as("cents"),
        sum("decayed").as("clv_decayed"))
      .orderBy(col("clv_decayed").desc, col("o_custkey"))
      .limit(topK)
  }

  /** Return-rate quality screen per part: lineitems, returned ('R')
    * lineitems, and the ppm return rate for parts with at least
    * `minN` observations — the supplier/product quality metric. One
    * fused conditional aggregation, TakeOrdered top `topK`.
    */
  def partReturnRates(lineitem: DataFrame, minN: Long = 20L,
                      topK: Int = 50): DataFrame =
    lineitem.groupBy("l_partkey")
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .as("n_returned"))
      .where(col("n") >= minN)
      .withColumn("return_ppm", expr("n_returned * 1000000 div n"))
      .orderBy(col("return_ppm").desc, col("l_partkey"))
      .limit(topK)

  /** Per-user behavioral feature table — the input a bot/abuse model
    * consumes: event count, active-day count, busiest-day volume,
    * minimum inter-event gap, and events-per-active-day in ppm. The
    * min-gap lag window and the rollup share the hash(user_id)
    * exchange; the per-day counts are a second map-side-combinable
    * shuffle of user×day rows. (No hard bot flag here: thresholds are
    * a policy decision applied downstream; this corpus' uniform
    * synthetic traffic would make any fixed flag vacuous.)
    */
  def userBehaviorFeatures(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    val gaps = events
      .withColumn("gap", col("ts_ms") - lag("ts_ms", 1).over(byUser))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), min("gap").as("min_gap_ms"))
    val days = events
      .withColumn("d", expr("ts_ms div 86400000"))
      .groupBy("user_id", "d").agg(count(lit(1)).as("c"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_days"), max("c").as("max_day_events"))
    gaps.join(days, "user_id")
      .select(col("user_id"), col("n_events"), col("n_days"),
        col("max_day_events"), coalesce(col("min_gap_ms"), lit(-1L))
          .as("min_gap_ms"),
        expr("n_events * 1000000 div n_days").as("events_per_day_ppm"))
      .orderBy("user_id")
  }

  /** Receivables-style AGING report: open (non-'F') orders bucketed by
    * age in days relative to the corpus' latest order date — the
    * snapshot-anchored CASE rollup every finance pipeline runs. The
    * snapshot anchor is data-derived (max order day), so the query
    * stays deterministic without a wall clock; one broadcast scalar +
    * one fused aggregation.
    */
  def ordersAgingBuckets(orders: DataFrame): DataFrame = {
    val withDay = orders.withColumn("od",
      expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000"))
    val anchor = withDay.agg(max("od").as("snap"))
    withDay.where(col("o_orderstatus") =!= "F")
      .crossJoin(broadcast(anchor))
      .withColumn("age", col("snap") - col("od"))
      .withColumn("bucket",
        when(col("age") <= 30, "0-30").when(col("age") <= 60, "31-60")
          .when(col("age") <= 90, "61-90").otherwise("90+"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("cents"))
      .orderBy("bucket")
  }

  /** Pareto (ABC) curve of part revenue: parts ranked by revenue
    * descending, each with its running cumulative share of total
    * revenue in ppm — the 80/20 readout. The rank window runs over the
    * per-part rollup (catalog-sized, not lineitem-sized), the total is
    * a 1-row broadcast, and only the top `topK` rows ship.
    */
  def partsParetoCurve(lineitem: DataFrame, topK: Int = 100): DataFrame = {
    val rev = lineitem.groupBy("l_partkey")
      .agg(sum(expr("cast(round(l_extendedprice * 100) as bigint)"))
        .as("cents"))
    val tot = rev.agg(sum("cents").as("total_cents"))
    rev.crossJoin(broadcast(tot))
      .withColumn("rnk", row_number()
        .over(Window.orderBy(col("cents").desc, col("l_partkey")))
        .cast("long"))
      .withColumn("cum_share_ppm",
        expr("sum(cents) over (order by cents desc, l_partkey " +
          "rows between unbounded preceding and current row) " +
          "* 1000000 div total_cents"))
      .where(col("rnk") <= topK)
      .select("rnk", "l_partkey", "cents", "cum_share_ppm")
      .orderBy("rnk")
  }

  /** Per-day Gini impurity of the event-type mix, integer ppm:
    * 10⁶ − (Σc²)·10⁶ div n² with ONE truncation — the log-free
    * diversity monitor (0 = one type only; 800000 = uniform over 5).
    * A collapse in type diversity flags an instrumentation break
    * before any per-type dashboard does. One fused shuffle on
    * (day, type), then a day rollup.
    */
  def eventTypeGini(events: DataFrame): DataFrame =
    events
      .withColumn("epoch_day", expr("ts_ms div 86400000"))
      .groupBy("epoch_day", "event_type").agg(count(lit(1)).as("c"))
      .groupBy("epoch_day")
      .agg(sum("c").as("n"), sum(expr("c * c")).as("sumsq"))
      .select(col("epoch_day"), col("n"),
        expr("1000000 - sumsq * 1000000 div (n * n)").as("gini_ppm"))
      .orderBy("epoch_day")

  /** Lag-`lag` autocorrelation of the daily event volume, integer
    * exact: with the truncating mean m = Σx div d, emits the raw
    * cross-product numerator Σ(xₜ−m)(xₜ₊ₗ−m) over observed day pairs,
    * the variance denominator Σ(xₜ−m)², and their ppm ratio
    * (truncation toward zero — Spark `div` == DuckDB `//` on
    * negatives) — the weekly-seasonality detector next to
    * [[anomalyByDow]]'s per-weekday baseline. Everything past the one
    * daily rollup shuffle operates on calendar-bounded rows: the mean
    * is a 1-row broadcast, the lag pairing a self-join on day+lag.
    */
  def eventsAutocorrLag(events: DataFrame, lag: Int = 7): DataFrame = {
    val daily = events
      .withColumn("epoch_day", expr("ts_ms div 86400000"))
      .groupBy("epoch_day").agg(count(lit(1)).as("n"))
    val m = daily.agg(expr("sum(n) div count(1)").as("m"),
      count(lit(1)).as("n_days"))
    val dm = daily.crossJoin(broadcast(m))
      .select(col("epoch_day"), col("n"), col("m"), col("n_days"),
        (col("n") - col("m")).as("d"))
    val den = dm.agg(sum(expr("d * d")).as("den")).select("den")
    val num = dm.as("a")
      .join(dm.as("b"), col("b.epoch_day") === col("a.epoch_day") + lag)
      .agg(sum(expr("a.d * b.d")).as("num")).select("num")
    m.crossJoin(broadcast(num)).crossJoin(broadcast(den))
      .select(col("n_days"), col("m").as("mean_n"), col("num"), col("den"),
        expr("num * 1000000 div den").as("r_ppm"))
  }

  /** Order-vs-lines financial reconciliation — the warehouse audit
    * that catches silent money drift between a header table and its
    * detail lines: per order, the summed per-line charge (the Q1
    * cents discipline: round each line, then sum — exact and
    * order-independent) against the header total, classified into
    * exact match / within 1% / within 10% / beyond / headers with no
    * lines. On a real book these buckets are a closing-process gate;
    * on this synthetic fixture the totals are independently generated,
    * so the report honestly shows mass disagreement — the operator's
    * value is the classification, not the verdict. One join on the
    * order key + one conditional aggregate; at 100 TB bucket both
    * tables on the key and the join is exchange-free.
    */
  def ordersReconciliation(orders: DataFrame,
                           lineitem: DataFrame): DataFrame = {
    val lines = lineitem.groupBy(col("l_orderkey"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax")) * 100).cast("long")).as("charge_c"))
    orders.select(col("o_orderkey"), cents("o_totalprice").as("total_c"))
      .join(lines, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("total_c"), col("charge_c"),
        when(col("charge_c").isNull, lit(null))
          .otherwise(expr("abs((charge_c - total_c) * 1000000 div total_c)"))
          .as("drift_ppm"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("charge_c").isNull, 1L).otherwise(0L)).as("n_no_lines"),
        sum(when(col("drift_ppm") === 0, 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("drift_ppm") > 0 && col("drift_ppm") <= 10000, 1L)
          .otherwise(0L)).as("n_within_1pct"),
        sum(when(col("drift_ppm") > 10000 && col("drift_ppm") <= 100000, 1L)
          .otherwise(0L)).as("n_within_10pct"),
        sum(when(col("drift_ppm") > 100000, 1L).otherwise(0L)).as("n_beyond"),
        max("drift_ppm").as("max_drift_ppm"))
  }

  /** Conversion-window funnel (the ClickHouse `windowFunnel`
    * semantics, which [[funnel]]'s unconstrained first-occurrence
    * chain cannot express): a user reaches step k iff some step-1
    * event starts a chain step1 → … → stepk with EVERY step inside
    * `windowHours` of that first event. Greedy earliest-next-step is
    * exact, not a heuristic: at each step, taking the FIRST qualifying
    * event maximizes the residual window for every later step, so a
    * chain exists iff the greedy one completes — which keeps the plan
    * at ONE user-keyed (join + min-rollup) round PER STEP instead of an
    * exists-quantified k-way join (events^k shaped; measured: the
    * 3-step triple join runs minutes at sf0.1 on this very-active-user
    * fixture, this shape is sub-second). One shuffle key (user_id)
    * throughout; per-user fan-out at each round is chains × step
    * events, never powered.
    */
  def windowFunnelN(events: DataFrame, steps: Seq[String],
                    windowHours: Int = 6): DataFrame = {
    require(steps.size >= 2, "a funnel needs at least two steps")
    val w = windowHours * 3600000L
    val e = events.select(col("user_id"), col("event_type"), col("ts_ms"))
    val starts = e.where(col("event_type") === steps.head)
      .select(col("user_id"), col("ts_ms").as("vt"), col("ts_ms").as("t"))
    // chains(k) = (user_id, vt, t): per start event vt, the greedy
    // earliest completion time t of the prefix steps(0..k)
    val chains = steps.indices.drop(1).scanLeft(starts) { (cur, k) =>
      val sk = e.where(col("event_type") === steps(k))
        .select(col("user_id"), col("ts_ms").as("nt"))
      cur.join(sk, Seq("user_id"))
        .where(col("nt") > col("t") && col("nt") <= col("vt") + w)
        .groupBy("user_id", "vt").agg(min("nt").as("t"))
        .select(col("user_id"), col("vt"), col("t"))
    }
    val counts = chains.zipWithIndex.map { case (c, k) =>
      c.agg(count_distinct(col("user_id")).as(s"n_step${k + 1}"))
    }
    val joined = counts.reduce(_.crossJoin(_)) // 1-row frames
    val ppm = steps.indices.drop(1).map(k =>
      expr(s"n_step${k + 1} * 1000000 div n_step1").as(s"step${k + 1}_ppm"))
    joined.select(steps.indices.map(k => col(s"n_step${k + 1}")) ++ ppm: _*)
  }

  /** MAD-based daily-volume anomaly flags — the robust data-quality
    * monitor a 100 TB ingest runs per partition: for each event type,
    * days whose count deviates from the type's median by more than
    * 3× the median absolute deviation. Medians are carried DOUBLED
    * (2·quantile(0.5) is integer-exact at even counts in both
    * engines, the Theil–Sen trick), deviations quadrupled, and the
    * 3σ-analog test `2·dev2 > 3·mad4` stays all-integer. Unlike a
    * mean/stddev z-score, one backfill spike cannot drag the
    * threshold (50% breakdown point). Scale shape: one daily rollup
    * shuffle, two type-keyed percentile rollups over days-bounded
    * frames, one broadcast-sized join back.
    */
  def madOutliers(events: DataFrame, k: Int = 3): DataFrame = {
    val d = events
      .select(col("event_type"), expr("ts_ms div 86400000").as("epoch_day"))
      .groupBy("event_type", "epoch_day").agg(count(lit(1)).as("n"))
    val med = d.groupBy("event_type")
      .agg(expr("cast(percentile(n, 0.5D) * 2 AS bigint)").as("med2"))
    val dev = d.join(broadcast(med), "event_type")
      .select(col("event_type"), col("epoch_day"), col("n"),
        abs(col("n") * 2 - col("med2")).as("dev2"))
    val mad = dev.groupBy("event_type")
      .agg(expr("cast(percentile(dev2, 0.5D) * 2 AS bigint)").as("mad4"))
    dev.join(broadcast(mad), "event_type")
      .where(col("dev2") * 2 > col("mad4") * k)
      .select(col("event_type"), col("epoch_day"), col("n"),
        col("dev2"), col("mad4"))
      .orderBy("event_type", "epoch_day")
  }

  /** CUSUM changepoint over the daily event volume: the day k
    * maximizing |S_k| where S_k = Σ_{i≤k}(n_i·D − T) — the integer
    * form of the cumulative deviation from the overall mean (scaled
    * by the day count D so no division ever happens; T = total
    * rows). The classic "when did the level shift" detector that a
    * volume monitor runs after [[madOutliers]] flags that something
    * shifted. One daily rollup, one days-bounded running sum (the
    * calendar-bounded single-partition window, same contract as
    * [[eventsEwma]]), ties broken to the earliest day.
    */
  def cusumChangepoint(events: DataFrame): DataFrame = {
    val d = events.select(expr("ts_ms div 86400000").as("day"))
      .groupBy("day").agg(count(lit(1)).as("n"))
    val t = d.agg(count(lit(1)).as("nd"), sum("n").as("tot"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val s = d.crossJoin(broadcast(t))
      .withColumn("cum", sum("n").over(w))
      .withColumn("k", row_number().over(Window.orderBy("day")))
      .select(col("nd"), col("day"),
        abs(col("cum") * col("nd") - col("k") * col("tot")).as("abs_s"))
    s.orderBy(col("abs_s").desc, col("day")).limit(1)
      .select(col("nd").as("n_days"), col("day").as("cp_day"),
        col("abs_s").as("max_abs_s"))
  }

  /** Conversion-latency distribution of the [[windowFunnelN]] chains:
    * for each converted user, the FASTEST completed view→signup→
    * purchase chain's end-to-end latency (min over that user's
    * completed chains of pt − vt), summarized as count / min /
    * doubled-median / max milliseconds — the number an optimization
    * team watches move, where the funnel counts only say whether.
    * Same greedy join+min rounds as the funnel (exactness argument
    * there); adds one user-keyed min and one global rollup.
    */
  def funnelLatency(events: DataFrame, windowHours: Int = 6): DataFrame = {
    val w = windowHours * 3600000L
    val e = events.select(col("user_id"), col("event_type"), col("ts_ms"))
    val v = e.where(col("event_type") === "view")
      .select(col("user_id"), col("ts_ms").as("vt"))
    val s = e.where(col("event_type") === "signup")
      .select(col("user_id"), col("ts_ms").as("st"))
    val p = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_ms").as("pt"))
    val s1 = v.join(s, Seq("user_id"))
      .where(col("st") > col("vt") && col("st") <= col("vt") + w)
      .groupBy("user_id", "vt").agg(min("st").as("st"))
    val p1 = s1.join(p, Seq("user_id"))
      .where(col("pt") > col("st") && col("pt") <= col("vt") + w)
      .groupBy("user_id", "vt").agg(min("pt").as("pt"))
    p1.select(col("user_id"), (col("pt") - col("vt")).as("lat"))
      .groupBy("user_id").agg(min("lat").as("lat_ms"))
      .agg(count(lit(1)).as("n_converted"),
        min("lat_ms").as("min_ms"),
        expr("cast(percentile(lat_ms, 0.5D) * 2 AS bigint)").as("med2_ms"),
        max("lat_ms").as("max_ms"))
  }

  /** Theil–Sen robust trend of the daily event volume: the median of
    * all pairwise day-slopes — the estimator that shrugs off the
    * outlier days OLS (`sales_discount_slope`, `events_daily_trend`)
    * gets dragged by (one ingestion-backfill spike can flip an OLS
    * trend; it moves the pairwise-slope median not at all, up to a
    * 29% contamination breakdown point). Slopes are integer micros
    * (dy·10⁶ div dx); the median is emitted DOUBLED
    * (`2·quantile(0.5)` = the sum of the two middle slopes) so the
    * even-count interpolation stays integer-exact in both engines.
    * Scale shape: one daily rollup shuffle; the pairwise self-join is
    * calendar-bounded (days², not rows²) with the day frame broadcast
    * — at 100 TB the data size never touches the pair count.
    */
  def theilSenTrend(events: DataFrame): DataFrame = {
    val daily = events
      .select(expr("ts_ms div 86400000").as("d"))
      .groupBy("d").agg(count(lit(1)).as("n"))
    val slopes = daily.as("a")
      .join(broadcast(daily.as("b")), col("b.d") > col("a.d"))
      .select(expr("(b.n - a.n) * 1000000 div (b.d - a.d)")
        .as("slope_micro"))
    slopes.agg(count(lit(1)).as("n_pairs"),
        expr("percentile(slope_micro, 0.5D) * 2").as("m2"))
      .crossJoin(broadcast(daily.agg(count(lit(1)).as("n_days"))))
      .select(col("n_days"), col("n_pairs"),
        round(col("m2")).cast("long").as("slope_med2_micro"))
  }

  /** Offline eval of the Markov next-event predictor — the
    * leave-last-event-out loop for [[eventTransitions]], sibling of
    * `customer_rec_eval`: each user's FINAL transition is held out,
    * the transition counts train on everything else (leakage-free —
    * the predicted transition never contributes to its own
    * statistics), the prediction for a user is the argmax next-type
    * given their second-to-last event (count desc, type asc — a total
    * deterministic order), and the report compares hits against the
    * always-predict-the-globally-most-common-next baseline a model
    * must beat to justify itself. Scale shape: one row_number window
    * per user, transition counts are type²-bounded, and the argmax
    * table (types rows) broadcasts to the per-user eval join.
    */
  def markovEval(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    val pos = events
      .select(col("user_id"), col("event_type"), col("ts_ms"), col("event_id"))
      .withColumn("k", row_number().over(byUser))
      .withColumn("last_k", max("k").over(Window.partitionBy("user_id")))
      .select(col("user_id"), col("event_type"), col("k"), col("last_k"))
      .where(col("last_k") >= 2)
      .localCheckpoint(eager = false) // feeds train, test, and contexts
    val pairs = pos.as("a").join(pos.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("b.k") === col("a.k") + 1)
      .select(col("a.user_id"), col("a.event_type").as("prev"),
        col("b.event_type").as("next"), col("b.k"), col("b.last_k"))
    val train = pairs.where(col("k") < col("last_k"))
      .groupBy("prev", "next").agg(count(lit(1)).as("cnt"))
    val argmaxW = Window.partitionBy("prev")
      .orderBy(col("cnt").desc, col("next"))
    val predicted = train
      .withColumn("rk", row_number().over(argmaxW))
      .where(col("rk") === 1)
      .select(col("prev"), col("next").as("predicted"))
    val globalTop = train.groupBy("next").agg(sum("cnt").as("c"))
      .orderBy(col("c").desc, col("next")).limit(1)
      .select(col("next").as("base_pred"))
    val test = pairs.where(col("k") === col("last_k"))
      .select(col("user_id"), col("prev"), col("next").as("actual"))
    test.join(broadcast(predicted), Seq("prev"), "left")
      .crossJoin(broadcast(globalTop))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("predicted") === col("actual"), 1L).otherwise(0L))
          .as("n_hits"),
        sum(when(col("base_pred") === col("actual"), 1L).otherwise(0L))
          .as("n_base_hits"))
      .select(col("n_users"), col("n_hits"), col("n_base_hits"),
        expr("n_hits * 1000000 div n_users").as("hit_ppm"),
        expr("n_base_hits * 1000000 div n_users").as("base_ppm"))
  }

  /** The signed CDC row stream behind [[ivmAggDelta]] — base rows
    * carry +1, the delete predicate (orderkey ≡ 0 mod 97) re-emits
    * its rows at −1, the correction predicate (≡ 0 mod 101) emits the
    * restated copy at +1. Signed aggregation over this union equals
    * the maintained view, and because the signs are PER-ROW the
    * contribution of any subset of rows is self-contained — the
    * property that lets a micro-batch fold its slice into the stored
    * state independently of how the stream was batched (the streaming
    * twin's correctness argument).
    */
  def ivmSignedRows(lineitem: DataFrame): DataFrame = {
    val li = lineitem.select(
      col("l_orderkey"), col("l_returnflag"),
      col("l_quantity").cast("long").as("qty"),
      cents("l_extendedprice").as("price_c"))
    li.select(col("l_returnflag"), col("qty"), col("price_c"),
        lit(1L).as("sgn"))
      .unionByName(li.where(col("l_orderkey") % 97 === 0)
        .select(col("l_returnflag"), col("qty"), col("price_c"),
          lit(-1L).as("sgn")))
      .unionByName(li.where(col("l_orderkey") % 101 === 0)
        .select(col("l_returnflag"), (col("qty") + 3).as("qty"),
          (col("price_c") + 500).as("price_c"), lit(1L).as("sgn")))
  }

  /** Signed aggregation of [[ivmSignedRows]]-shaped rows — the
    * per-micro-batch step of the streaming materialized view.
    */
  def ivmSignedAgg(signed: DataFrame): DataFrame =
    signed.groupBy("l_returnflag").agg(
      sum("sgn").as("cnt"),
      sum(col("sgn") * col("qty")).as("sum_qty"),
      sum(col("sgn") * col("price_c")).as("sum_price_c"))

  /** Incremental view maintenance of a grouped aggregate: the
    * materialized pricing rollup M = γ(base) is patched with a CDC
    * batch — deletes (every line of orders ≡ 0 mod 97) carry weight
    * −1, inserts (corrected copies of orders ≡ 0 mod 101) weight +1 —
    * by aggregating ONLY the delta and full-outer-merging it into M:
    * M' = M ⊕ γ±(Δ). count/sum are the self-maintainable aggregates
    * (each is a signed sum), and a group whose maintained count
    * reaches zero is dropped — the delete-to-empty case a naive
    * "just add the delta" merge gets wrong. The oracle recomputes
    * γ((base ∖ deletes) ⊎ inserts) from scratch; equality is the IVM
    * contract. Scale shape: at 100 TB the base scan disappears (M is
    * stored state) and the update costs one delta-sized aggregate
    * plus a group-key-sized merge join — the reason nightly pipelines
    * maintain instead of recompute.
    */
  def ivmAggDelta(lineitem: DataFrame): DataFrame = {
    val li = lineitem.select(
      col("l_orderkey"), col("l_returnflag"),
      col("l_quantity").cast("long").as("qty"),
      cents("l_extendedprice").as("price_c"))
    // the stored view state (computed here once; persisted in production)
    val m0 = li.groupBy("l_returnflag").agg(
      count(lit(1)).as("cnt"), sum("qty").as("sum_qty"),
      sum("price_c").as("sum_price_c"))
    // CDC batch: corrections re-state the line with qty+3 / +5.00
    val deletes = li.where(col("l_orderkey") % 97 === 0)
      .select(col("l_returnflag"), col("qty"), col("price_c"),
        lit(-1L).as("sgn"))
    val inserts = li.where(col("l_orderkey") % 101 === 0)
      .select(col("l_returnflag"), (col("qty") + 3).as("qty"),
        (col("price_c") + 500).as("price_c"), lit(1L).as("sgn"))
    val delta = deletes.unionByName(inserts)
      .groupBy("l_returnflag").agg(
        sum("sgn").as("d_cnt"),
        sum(col("sgn") * col("qty")).as("d_qty"),
        sum(col("sgn") * col("price_c")).as("d_price"))
    m0.join(delta, Seq("l_returnflag"), "full_outer")
      .select(col("l_returnflag"),
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("d_cnt"), lit(0L)))
          .as("cnt"),
        (coalesce(col("sum_qty"), lit(0L)) + coalesce(col("d_qty"), lit(0L)))
          .as("sum_qty"),
        (coalesce(col("sum_price_c"), lit(0L))
          + coalesce(col("d_price"), lit(0L))).as("sum_price_c"))
      .where(col("cnt") > 0)
      .orderBy("l_returnflag")
  }

  /** Kaplan–Meier life table for time-to-repurchase: each customer
    * enters at their first order, the event is the SECOND order (gap
    * in 28-day buckets), and customers who never reorder are
    * right-censored at the last date the table can see — the
    * censoring that makes naive "average days between orders" wrong
    * (it silently drops one-time buyers, biasing retention optimistic).
    * Emits the estimator's sufficient statistics per bucket — risk
    * set n, events d, censored c — plus the discrete hazard d/n in
    * exact ppm; survival is the running product of (1 − hazard).
    * Scale shape: one row_number window per customer (shuffle on
    * custkey) collapses each history to a single (time, event) row;
    * the life table itself is calendar-bounded, and the risk-set
    * reverse cumulative sum runs over that tiny frame.
    */
  def survivalTable(orders: DataFrame, bucketDays: Int = 28): DataFrame = {
    val byCust = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    val ranked = orders.select(col("o_custkey"),
        col("o_orderdate").cast("date").as("d"), col("o_orderkey"))
      .withColumn("rn", row_number().over(byCust))
      .where(col("rn") <= 2)
    val horizon = orders.agg(max(col("o_orderdate").cast("date")).as("dmax"))
    val subjects = ranked.groupBy("o_custkey")
      .agg(min(when(col("rn") === 1, col("d"))).as("d0"),
        min(when(col("rn") === 2, col("d"))).as("d1"))
      .crossJoin(broadcast(horizon))
      .select(
        when(col("d1").isNotNull, datediff(col("d1"), col("d0")))
          .otherwise(datediff(col("dmax"), col("d0")))
          .cast("long").as("gap_days"),
        when(col("d1").isNotNull, 1L).otherwise(0L).as("ev"))
      .select(expr(s"gap_days div $bucketDays").as("t_bucket"), col("ev"))
    val g = subjects.groupBy("t_bucket").agg(
      sum(col("ev")).as("n_events"),
      sum(lit(1L) - col("ev")).as("n_censored"))
    val riskW = Window.orderBy(col("t_bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.withColumn("n_risk",
        sum(col("n_events") + col("n_censored")).over(riskW))
      .select(col("t_bucket"), col("n_risk"), col("n_events"),
        col("n_censored"),
        expr("n_events * 1000000 div n_risk").as("hazard_ppm"))
      .orderBy("t_bucket")
  }

}
