package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-grain time-series rollups.
  *
  * Re-expresses the reference's per-stock daily/monthly/yearly OHLCV
  * aggregation (reference: airflow/dags/yfinance/TransForm_Load_Yfinance.py:210-349)
  * as a single grouped plan over ALL series at once. The reference
  * loops over stocks in driver Python (one Spark job per stock — its
  * scale ceiling); here the series key is just another grouping column,
  * so one shuffle per grain handles any number of series. At 100 TB
  * this is the difference between O(n_series) jobs and 3 jobs total.
  *
  * Grain keys follow the reference: `period_key` is `yyyy-MM-dd` /
  * `yyyy-MM` / `yyyy` and `agg_type` is `day` / `month` / `year`.
  *
  * Input contract: a frame with `entity_id` (series key), `ts`
  * (timestamp) and `value` (double) columns — see [[Rollups.series]].
  * `value` may be signed: the exact 4dp rounding identity used for
  * `avg_value` is applied to |S| with the sign reapplied (round half
  * AWAY FROM ZERO), because the bare `(200·S + n) div (2·n)` is the
  * HALF_UP round only for S ≥ 0 — truncate-toward-zero division puts
  * a negative half-case 1e-4 off (S=-1 cent, n=2 → -49 not -50), and
  * DuckDB's `//` floors, diverging the other way.
  */
object Rollups {

  /** Project an (entity, ts, value) series view out of an arbitrary frame. */
  def series(df: DataFrame, entity: String, ts: String, value: String): DataFrame =
    df.select(
      col(entity).cast("long").as("entity_id"),
      col(ts).as("ts"),
      col(value).cast("double").as("value"))

  /** Reference schema-normalization step (TransForm_Load_Yfinance.py:191-208):
    * default missing columns, null/NaN → 0.0, enforce numeric types.
    * Declarative (`nanvl` + `coalesce`) so it stays inside codegen.
    */
  def normalize(df: DataFrame, numericCols: Seq[String]): DataFrame =
    numericCols.foldLeft(df) { (d, c) =>
      if (d.columns.contains(c))
        d.withColumn(c, coalesce(nanvl(col(c).cast("double"), lit(0.0)), lit(0.0)))
      else d.withColumn(c, lit(0.0))
    }

  /** Daily grain: cleaned, deduplicated day-level records
    * (reference daily frame, TransForm_Load_Yfinance.py:210-226).
    */
  def daily(s: DataFrame): DataFrame =
    s.select(
      date_format(col("ts"), "yyyy-MM-dd").as("period_key"),
      lit("day").as("agg_type"),
      col("entity_id"),
      round(col("value"), 2).as("value")
    ).distinct()

  /** The ALGEBRAIC PARTIALS of one grain: exact decimal sums, sum of
    * squares, max/min, count per (entity, period). This is the
    * mergeable half of the rollup — every statistic the final grain
    * derives is a pure function of these five columns, and each of
    * the five re-aggregates losslessly (sums add, max of maxes,
    * count of counts), which is what makes [[monthlyFromDaily]]'s
    * incremental maintenance EXACT rather than approximate.
    *
    * Values sum as decimals: double sums drift in the last ulp with
    * partitioning/merge order, fatal for a value-level oracle compare
    * and irreproducible on a cluster.
    */
  private def partials(s: DataFrame, fmt: String): DataFrame = {
    val v = col("value").cast("decimal(18,2)")
    s.groupBy(
        col("entity_id"),
        date_format(col("ts"), fmt).as("period_key"))
      .agg(
        sum(v).as("sum_d"),
        sum(v * v).as("sumsq_d"),
        max(v).as("max_d"),
        min(v).as("min_d"),
        count(lit(1)).as("cnt_value"))
  }

  /** Derive the published grain statistics from the algebraic
    * partials. avg and stddev come from the exact sums with a fixed
    * double expression tree, so they are bit-reproducible.
    */
  private def derive(g: DataFrame, tag: String): DataFrame = {
    val n = col("cnt_value")
    val sumD = col("sum_d").cast("double")
    val sumsqD = col("sumsq_d").cast("double")
    g
      // 4dp average in exact integer math — round(S/(100·n), 4)·10^4 =
      // (200·|S| + n) div (2·n) with S in cents, sign reapplied
      // (half away from zero; series() accepts signed values). Same
      // hazard as multiMetric: sum/count of 2-decimal values lands on
      // EXACT 5th-decimal halves for counts 2/4/5/8, where Spark's
      // double round goes HALF_UP and DuckDB's half-even.
      .withColumn("cents_v", (col("sum_d") * 100).cast("decimal(38,0)"))
      .select(
        col("period_key"), lit(tag).as("agg_type"), col("entity_id"),
        (expr("if(cents_v < 0, -1, 1) * ((abs(cents_v) * 200 + cnt_value) div (cnt_value * 2))")
          .cast("double") / 10000)
          .as("avg_value"),
        sumD.as("sum_value"),
        col("max_d").cast("double").as("max_value"),
        col("min_d").cast("double").as("min_value"),
        when(n > 1,
          round(sqrt(greatest((sumsqD - sumD * sumD / n) / (n - lit(1)), lit(0.0))), 4))
          .as("std_value"),
        n)
  }

  /** One aggregated grain (month or year). Single shuffle on
    * (entity_id, period_key); partial aggregation happens map-side so
    * the shuffle carries one row per (entity, period) per mapper, not
    * raw data — the property that keeps this viable at 100 TB.
    */
  private def grain(s: DataFrame, fmt: String, tag: String): DataFrame =
    derive(partials(s, fmt), tag)

  def monthly(s: DataFrame): DataFrame = grain(s, "yyyy-MM", "month")
  def yearly(s: DataFrame): DataFrame  = grain(s, "yyyy", "year")

  /** Day-grain algebraic partials as a PUBLIC artifact — what an
    * ingest job persists per day so coarser grains never rescan raw
    * data (see [[monthlyFromDaily]]).
    */
  def dailyPartials(s: DataFrame): DataFrame = partials(s, "yyyy-MM-dd")

  /** INCREMENTAL rollup maintenance: the monthly grain rebuilt from
    * persisted day partials instead of raw data — merge the five
    * algebraic columns up a grain (sums add, max of maxes, min of
    * mins, counts add) and derive the same statistics. Output is
    * value-identical to [[monthly]] (decimal sums are associative, so
    * merge order cannot move a cent) and the gate pins it to the SAME
    * oracle as `rollup_monthly`.
    *
    * This is the 100 TB shape for recurring rollups: a day's close
    * re-aggregates yesterday's partials (≪ raw events) rather than
    * rescanning the corpus, and the month/year grains are one tiny
    * merge job over the day table. The month key is the day key's
    * string prefix — same value `date_format(ts, "yyyy-MM")` yields,
    * with no timestamp re-parse.
    */
  def monthlyFromDaily(daily: DataFrame): DataFrame =
    derive(
      daily.groupBy(
          col("entity_id"),
          substring(col("period_key"), 1, 7).as("period_key"))
        .agg(
          sum("sum_d").as("sum_d"),
          sum("sumsq_d").as("sumsq_d"),
          max("max_d").as("max_d"),
          min("min_d").as("min_d"),
          sum("cnt_value").as("cnt_value")),
      "month")

  /** Persist the day partials partitioned BY MONTH — the ingest half
    * of the incremental-rollup lifecycle (the [[graft.operators.Dedup]]
    * index-twin contract applied to aggregation): a recurring rollup
    * job appends/overwrites the affected day partitions
    * ([[graft.sources.Sinks.upsertPartitions]] is the per-day form)
    * and coarser grains rebuild from this table, never from raw data.
    * Decimal and long columns round-trip parquet exactly, so a merge
    * after a read is as bit-exact as the in-memory one.
    *
    * CLUSTERED write (`writePartitioned` rebalances on month): one file
    * per month up to AQE's advisory partition size, not one per shuffle
    * task. Partials are tiny (a row per entity-day) and a probe that lists
    * 80 months × 32 fragment files spends more time in file discovery
    * than in the merge — measured 3× slower than recomputing from raw
    * orders before compaction. One file per partition is the layout
    * that makes the persisted index cheaper than its recompute twin.
    */
  def writeDailyPartials(s: DataFrame, path: String): Unit =
    graft.sources.Sinks.writePartitioned(
      dailyPartials(s).withColumn("month", substring(col("period_key"), 1, 7)),
      path, Seq("month"))

  /** Monthly grain off the PERSISTED partials table. `month` scopes
    * the rebuild to one month — a PARTITION-PRUNED scan (the
    * recurring-job shape: month-close touches that month's directory,
    * nothing else, spec-asserted); `None` merges every month — the
    * gate form, value-identical to [[monthly]] under the same oracle.
    */
  def monthlyFromPartialsTable(spark: org.apache.spark.sql.SparkSession, path: String,
                               month: Option[String] = None): DataFrame =
    monthlyFromPartialsDf(graft.sources.Sinks.readPartitioned(spark, path), month)

  /** [[writeDailyPartials]] as an ENTITY-BUCKETED catalog table — the
    * second partials layout, for the corpus-wide re-grain probe: rows
    * hash-clustered on entity_id at write, so every later
    * (entity, period) aggregate plans ZERO exchanges (entity_id ⊆ the
    * grouping key, so the bucket clustering satisfies the aggregate's
    * distribution) and the merge runs at scan speed. The two layouts
    * serve the two real probe patterns: the month-partitioned path
    * form answers "rebuild THIS month" with a partition-pruned read;
    * this bucketed form answers "re-grain the whole series" with a
    * shuffle-free aggregate — measured 2.7× faster than recomputing
    * from raw orders, where the month-partitioned read only tied
    * (at small SF, 80 one-file directories cost more in footer reads
    * than they save). A 100 TB deployment combines both axes
    * (partitionBy month + bucketBy entity); at bench scale the
    * combined layout's file count (months × buckets) drowns the win,
    * so each gate twin demonstrates its own axis.
    */
  def writeDailyPartialsTable(s: DataFrame, table: String): Unit =
    graft.sources.Sinks.writeBucketed(dailyPartials(s), table, Seq("entity_id"), 8)

  /** Monthly grain off the bucketed catalog partials
    * ([[writeDailyPartialsTable]]): zero-exchange merge; `month`
    * scopes via the period_key prefix (day keys sort under their
    * month prefix, so sorted row groups skip cleanly).
    */
  def monthlyFromPartialsCatalog(spark: org.apache.spark.sql.SparkSession, table: String,
                                 month: Option[String] = None): DataFrame = {
    val t = spark.table(table)
    val scoped = month.fold(t)(m => t.filter(col("period_key").startsWith(m)))
    monthlyFromDaily(scoped)
  }

  private def monthlyFromPartialsDf(t: DataFrame, month: Option[String]): DataFrame = {
    val scoped = month.fold(t)(m => t.filter(col("month") === m))
    monthlyFromDaily(scoped.drop("month"))
  }

  /** Multi-metric monthly rollup — the reference's OHLCV shape
    * (TransForm_Load_Yfinance.py:231-248: one groupBy computing
    * avg/max/min/std for each of Open/High/Low/Close/Volume plus
    * sums and a row count). Here the metrics are lineitem quantity /
    * extended price / discount per (supplier, ship-month). One shuffle
    * computes every statistic for every metric — the width of the
    * aggregate list costs nothing extra in passes.
    */
  def multiMetric(lineitem: DataFrame): DataFrame = {
    val price = col("l_extendedprice").cast("decimal(12,2)")
    val disc = col("l_discount").cast("decimal(4,2)")
    val n = col("cnt_value")
    val sumP = col("sum_price_d").cast("double")
    val sumsqP = col("sumsq_price_d").cast("double")
    lineitem
      .groupBy(
        col("l_suppkey").as("entity_id"),
        date_format(col("l_shipdate"), "yyyy-MM").as("period_key"))
      .agg(
        // quantities are integral — double sums are exact
        sum("l_quantity").as("sum_qty_d"),
        sum(price).as("sum_price_d"),
        sum(price * price).as("sumsq_price_d"),
        max(price).as("max_price_d"),
        min(price).as("min_price_d"),
        sum(disc).as("sum_disc_d"),
        count(lit(1)).as("cnt_value"))
      // Averages of 2-decimal values by small counts often land on
      // EXACT 5th-decimal halves (e.g. sum/8), where Spark rounds
      // HALF_UP and DuckDB's double round() goes half-even — so the
      // 4dp rounding is done in exact integer math on both sides:
      // round(S/(100·n), 4)·10^4 = (200·S + n) div (2·n), S in cents.
      // decimal(38,0), not long: per-(entity, month) cents sums stay
      // far below 2^63, but the wider type costs nothing and keeps the
      // identity overflow-proof if the grouping ever coarsens (the Q1
      // lesson — Analytics.scala:50)
      .withColumn("cents_p", (col("sum_price_d") * 100).cast("decimal(38,0)"))
      .withColumn("cents_d", (col("sum_disc_d") * 100).cast("decimal(38,0)"))
      .withColumn("qty_l", col("sum_qty_d").cast("decimal(38,0)"))
      .select(
        col("entity_id"), col("period_key"), lit("month").as("agg_type"),
        round(col("sum_qty_d"), 2).as("sum_qty"),
        (expr("(qty_l * 20000 + cnt_value) div (cnt_value * 2)").cast("double") / 10000)
          .as("avg_qty"),
        (expr("(cents_p * 200 + cnt_value) div (cnt_value * 2)").cast("double") / 10000)
          .as("avg_price"),
        sumP.as("sum_price"),
        col("max_price_d").cast("double").as("max_price"),
        col("min_price_d").cast("double").as("min_price"),
        when(n > 1,
          round(sqrt(greatest((sumsqP - sumP * sumP / n) / (n - lit(1)), lit(0.0))), 4))
          .as("std_price"),
        (expr("(cents_d * 200 + cnt_value) div (cnt_value * 2)").cast("double") / 10000)
          .as("avg_disc"),
        n)
  }

  /** Margin rollup via grouping sets: (entity, year) detail, per-entity
    * totals, and the grand total in ONE aggregation pass — Spark's
    * `rollup` plans a single Expand + hash aggregate, so the margins
    * cost one extra shuffle row per grouping set, not one extra query
    * per level (the reference computes each level as a separate
    * collection). `lvl` is the grouping bitmask (0 = detail, 1 = year
    * rolled up, 3 = grand total), identical to SQL GROUPING().
    */
  def rollupMargins(orders: DataFrame): DataFrame =
    orders.select(col("o_custkey").as("entity_id"),
        date_format(col("o_orderdate"), "yyyy").as("year"),
        col("o_totalprice").cast("decimal(18,2)").as("v"))
      .rollup("entity_id", "year")
      .agg(round(sum("v"), 2).cast("double").as("sum_value"),
        count(lit(1)).as("cnt"),
        grouping_id().cast("long").as("lvl"))
      .orderBy("lvl", "entity_id", "year")

  /** Full CUBE over (priority, year): every marginal of the two
    * dimensions — detail, per-priority, per-year, grand total — in
    * ONE Expand + hash-aggregate pass (4 grouping sets = 4× the
    * map-side rows, collapsed by the partial agg before the single
    * shuffle). [[rollupMargins]] walks one hierarchy; `cube` is the
    * cross-dim dashboard matrix (any cell addressable by `lvl`
    * bitmask, the SQL GROUPING() id). Grouping keys here are
    * low-cardinality dims — CUBE over a high-cardinality key pair
    * would multiply the shuffle by 2^dims and wants pre-aggregation
    * first.
    */
  def cubeMargins(orders: DataFrame): DataFrame =
    orders.select(col("o_orderpriority").as("priority"),
        date_format(col("o_orderdate"), "yyyy").as("year"),
        col("o_totalprice").cast("decimal(18,2)").as("v"))
      .cube("priority", "year")
      .agg(round(sum("v"), 2).cast("double").as("sum_value"),
        count(lit(1)).as("cnt"),
        grouping_id().cast("long").as("lvl"))
      .orderBy("lvl", "priority", "year")

  /** Gap-filled monthly series (forward fill): every month in each
    * entity's [first, last] span gets a row, months with no data carry
    * the previous month's sum — the standard series-densification
    * step (the reference's OHLCV series skip non-trading days and its
    * per-period reports skip idle periods; downstream joins and
    * window math need a dense axis).
    *
    * Plan: one shuffle to the monthly aggregate; the per-entity span
    * and calendar explode stay on that aggregate (≪ raw data — the
    * explode fans out to entity×months rows, never touching the
    * corpus); the carry-forward is `last(ignoreNulls)` over a running
    * per-entity window — one sort within the already-partitioned
    * aggregate, no further shuffle of raw rows.
    */
  def fillForwardMonthly(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val monthly = orders.groupBy(
        col("o_custkey").as("entity_id"),
        trunc(col("o_orderdate"), "month").as("mo"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("v"))
    val cal = monthly.groupBy("entity_id")
      .agg(min("mo").as("mn"), max("mo").as("mx"))
      .select(col("entity_id"),
        explode(sequence(col("mn"), col("mx"), expr("INTERVAL 1 MONTH"))).as("mo"))
    val w = Window.partitionBy("entity_id").orderBy("mo")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cal.join(monthly, Seq("entity_id", "mo"), "left")
      .withColumn("sum_value",
        last(col("v"), ignoreNulls = true).over(w).cast("double"))
      .select(col("entity_id"), date_format(col("mo"), "yyyy-MM").as("month"),
        round(col("sum_value"), 2).as("sum_value"), col("v").isNull.as("filled"))
      .orderBy("entity_id", "month")
  }

  /** Combined multi-grain index (reference combined collection,
    * TransForm_Load_Yfinance.py:326-342): union of the three grains on
    * their shared identity columns. Union of already-aggregated frames —
    * no extra shuffle beyond the per-grain ones.
    */
  def combined(s: DataFrame): DataFrame = {
    // grain key-sets computed directly (one distinct each) rather than
    // via the full grain aggregates — the identity columns don't need
    // the avg/std work, and daily() would otherwise pay a second
    // distinct to drop its value column
    def keys(fmt: String, tag: String): DataFrame =
      s.select(
        date_format(col("ts"), fmt).as("period_key"),
        lit(tag).as("agg_type"),
        col("entity_id")).distinct()
    keys("yyyy-MM-dd", "day")
      .unionByName(keys("yyyy-MM", "month"))
      .unionByName(keys("yyyy", "year"))
  }
}
