package graft

import java.nio.file.Files

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.operators.{ApiSurface, Rollups}
import graft.sources.{Sinks, Tables}

/** The serving path: API answers over tables written by [[Sinks]] and
  * read back, as a server reads them. Pins the answers (rows AND order)
  * against the global-sort and cross-join forms they replace, the Spark
  * jobs each call runs, and the partitioned writer's file layout.
  */
class ServingSpec extends SparkSpec {

  private lazy val dir = Files.createTempDirectory("graft_serving").toString

  private lazy val tables: Map[String, DataFrame] = {
    val s = Rollups.series(Tables.orders(spark, sfDir), "o_custkey", "o_orderdate", "o_totalprice")
    Sinks.writePartitioned(Rollups.monthly(s)
      .withColumn("year", substring(col("period_key"), 1, 4).cast("int")), s"$dir/monthly", Seq("year"))
    Sinks.writePartitioned(Rollups.combined(s), s"$dir/combined", Seq("agg_type"))
    Sinks.writePartitioned(Tables.customer(spark, sfDir), s"$dir/customer", Seq("c_mktsegment"))
    Sinks.writePartitioned(Tables.part(spark, sfDir), s"$dir/part", Nil)
    Seq("monthly", "combined", "customer", "part")
      .map(t => t -> Sinks.readPartitioned(spark, s"$dir/$t")).toMap
  }

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    rm(new java.io.File(dir))
    super.afterAll()
  }

  private def withAqe[T](on: Boolean)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", on.toString)
    try body finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  // the global-sort forms the entity-pinned answers replace
  private def oldKeys(frame: DataFrame, e: Long, key: String) =
    frame.filter(col("entity_id") === e).select(key).distinct().orderBy(key)
  private def oldRange(frame: DataFrame, e: Long, start: String, end: String) =
    frame.filter(col("entity_id") === e && col("period_key") >= start && col("period_key") <= end)
      .orderBy("period_key")

  // the two-scan form reportList replaces: a separate count cross-joined
  // onto the numbered top-k
  private def oldReportList(customer: DataFrame, needle: String, page: Int, limit: Int) = {
    val filtered = customer.filter(lower(col("c_name")).contains(needle.toLowerCase))
      .select(col("c_custkey"), col("c_name"))
    val total = filtered.agg(count(lit(1)).as("total_count"))
    filtered.orderBy(col("c_custkey")).limit(page * limit)
      .coalesce(1).sortWithinPartitions(col("c_custkey"))
      .withColumn("rn", (monotonically_increasing_id() + 1).cast("int"))
      .filter(col("rn") > (page - 1) * limit)
      .crossJoin(broadcast(total))
      .select(col("c_custkey"), col("c_name"), col("rn"), col("total_count"))
  }

  private def same(got: DataFrame, want: DataFrame): Seq[Row] = {
    assert(got.schema === want.schema)
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    assert(g === w)
    g
  }

  test("entity-pinned answers equal their orderBy forms in rows and order, AQE on and off") {
    val (monthly, combined) = (tables("monthly"), tables("combined"))
    val present = monthly.groupBy("entity_id").count().orderBy(col("count").desc, col("entity_id"))
      .limit(3).collect().map(_.getLong(0)).toSeq
    assert(present.size === 3)
    val absent = Seq(-1L, Long.MaxValue)
    for (aqe <- Seq(true, false)) withAqe(aqe) {
      for (e <- present ++ absent) {
        val clue = s"entity $e, AQE $aqe"
        val rows = Seq(
          same(ApiSurface.aggTypes(combined, e), oldKeys(combined, e, "agg_type")),
          same(ApiSurface.periodKeys(monthly, e), oldKeys(monthly, e, "period_key")),
          same(ApiSurface.dataRange(monthly, e, "0000", "9999"), oldRange(monthly, e, "0000", "9999")),
          same(ApiSurface.dataRange(monthly, e, "1994-07", "1996-06"),
            oldRange(monthly, e, "1994-07", "1996-06")))
        if (absent.contains(e)) assert(rows.forall(_.isEmpty), clue)
        else {
          assert(rows.take(3).forall(_.size > 1), clue)
          assert(rows(1).map(_.getString(0)) === rows(1).map(_.getString(0)).sorted, clue)
        }
      }
    }
  }

  test("reportList equals the cross-join form on every page, one past the last, and no match") {
    val customer = tables("customer")
    val limit = 9
    for (aqe <- Seq(true, false)) withAqe(aqe) {
      for (needle <- Seq("1", "Customer", "no such name")) {
        val n = customer.filter(lower(col("c_name")).contains(needle.toLowerCase)).count()
        val lastPage = math.max(1, ((n + limit - 1) / limit).toInt)
        for (page <- 1 to lastPage + 1) {
          val rows = same(ApiSurface.reportList(customer, needle, page, limit),
            oldReportList(customer, needle, page, limit))
          val expected = if (page > lastPage) 0L else math.min(limit.toLong, n - (page - 1L) * limit)
          assert(rows.size === expected, s"needle '$needle', page $page, AQE $aqe")
          rows.foreach(r => assert(r.getLong(3) === n))
        }
      }
    }
    intercept[IllegalArgumentException](ApiSurface.reportList(customer, "1", 0, limit))
  }

  test("serving calls run bounded Spark jobs, with no range-partitioning exchange") {
    val sc = spark.sparkContext
    val (monthly, combined) = (tables("monthly"), tables("combined"))
    val e = monthly.select("entity_id").head().getLong(0)
    val key = monthly.filter(col("entity_id") === e).select("period_key").head().getString(0)
    var n = 0
    def run(df: => DataFrame): (Int, String) = {
      n += 1
      val group = s"serving-spec-$n"
      sc.setJobGroup(group, group)
      val plan = try {
        val d = df
        d.collect()
        // the plan that ran: AQE's final plan, without its initial one
        (d.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }).toString
      } finally sc.clearJobGroup()
      ListenerDrain(sc)
      (sc.statusTracker.getJobIdsForGroup(group).length, plan)
    }
    val calls = Seq[(String, Int => Boolean, () => DataFrame)](
      ("dataRange", _ <= 2, () => ApiSurface.dataRange(monthly, e, "0000", "9999")),
      ("periodKeys", _ <= 2, () => ApiSurface.periodKeys(monthly, e)),
      ("aggTypes", _ <= 2, () => ApiSurface.aggTypes(combined, e)),
      ("reportList", _ <= 2, () => ApiSurface.reportList(tables("customer"), "1", 2, 9)),
      ("dataPoint", _ == 1, () => ApiSurface.dataPoint(monthly, e, key)),
      ("detail", _ == 1, () => ApiSurface.detail(tables("part"), 42L)),
      ("paginate", _ == 1, () => ApiSurface.paginate(tables("customer"), 2, 9)))
    calls.foreach { case (name, bound, df) =>
      val (jobs, plan) = run(df())
      assert(bound(jobs), s"$name ran $jobs jobs:\n$plan")
      assert(!plan.toLowerCase.contains("rangepartitioning"), s"$name plans a range sort:\n$plan")
      if (name == "reportList")
        assert("Scan parquet".r.findAllIn(plan).size === 1, s"$name scans customer more than once:\n$plan")
    }
  }

  test("writePartitioned: one file per partition value; an unpartitioned write keeps its layout") {
    val df = spark.range(0, 1000, 1, 4).withColumn("k", col("id") % 5)
    def parquetFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(parquetFiles)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    val parted = s"$dir/rebalanced"
    Sinks.writePartitioned(df, parted, Seq("k"))
    val dirs = new java.io.File(parted).listFiles().filter(_.isDirectory)
    assert(dirs.map(_.getName).sorted.toSeq === (0 to 4).map(k => s"k=$k"))
    dirs.foreach(d => assert(parquetFiles(d).size === 1, d.getName))
    assert(Sinks.readPartitioned(spark, parted).count() === 1000)
    // unpartitioned: no rebalance, so each input partition's contiguous
    // id range stays one file (the min/max pruning a point read uses)
    val flat = s"$dir/flat"
    Sinks.writePartitioned(df, flat, Nil)
    val ranges = parquetFiles(new java.io.File(flat)).map { f =>
      val r = spark.read.parquet(f.getPath).agg(min("id"), max("id"), count(lit(1))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }.sorted
    assert(ranges === (0 until 4).map(i => (i * 250L, i * 250L + 249, 250L)))
  }
}
