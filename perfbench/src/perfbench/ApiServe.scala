package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.io.Source

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.perfbench.Probe
import org.apache.spark.sql.types._

import graft.operators.ApiSurface
import graft.sources.{Ingest, Sinks}

/** One seeded request, a line of `requests.jsonl`; fields a kind does
  * not use are absent (null or 0).
  */
final case class Request(op: String, grain: String, entity: Long, period: String,
                         start: String, end: String, partkey: Long, needle: String,
                         page: Int, limit: Int)

/** api_serve: the nightly market ETL loads the serving tables (the
  * set-up, repeated), then a closed loop of `clients` threads calls the
  * query API over them: each client sends its next request only when its
  * previous one has completed.
  */
final class ApiServe(spark: SparkSession, inputs: String, work: String, clients: Int)
    extends Workload {
  private val requests: Array[Request] = {
    val src = Source.fromFile(s"$inputs/requests.jsonl")
    try src.getLines().filter(_.nonEmpty).map(Main.Mapper.readValue(_, classOf[Request])).toArray
    finally src.close()
  }
  private val CustomerSchema = new StructType().add("c_custkey", LongType).add("c_name", StringType)
    .add("c_acctbal", DoubleType).add("c_mktsegment", StringType)
  private val PartSchema = new StructType().add("p_partkey", LongType).add("p_name", StringType)
    .add("p_brand", StringType).add("p_type", StringType).add("p_size", IntegerType)
    .add("p_retailprice", DoubleType)
  private val DocSchema = new StructType().add("doc_id", LongType).add("lang", StringType)
    .add("source", StringType).add("text", StringType)

  private var tables: Map[String, DataFrame] = Map.empty
  private var served = ""
  private val apiDir = s"$work/api"
  /** Responses kept for the checker: the first `SamplesPerKind` of each
    * request kind in the timed phase, so every API function is checked.
    */
  private val SamplesPerKind = 4
  private val samples = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Any]]
  private val sampled = new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]
  // the first requests of each phase are shape-counted: a fixed set for a given seed
  private val ShapeRequests = 16

  /** The API's own tables, loaded once from the full inputs. */
  private def loadApiTables(out: String): Unit = {
    def csv(name: String, schema: StructType, parts: Seq[String]): Unit = {
      val ing = Probe.span("sources.Ingest.csvWithQuarantine") {
        Ingest.csvWithQuarantine(spark, s"$inputs/$name", schema)
      }
      Probe.span("sources.Sinks.writePartitioned") { Sinks.writePartitioned(ing.good, s"$out/$name", parts) }
      ing.unpersist()
    }
    csv("customer", CustomerSchema, Seq("c_mktsegment"))
    csv("part", PartSchema, Nil)
    val docs = Probe.span("sources.Ingest.jsonWithQuarantine") {
      Ingest.jsonWithQuarantine(spark, s"$inputs/documents", DocSchema)
    }
    Probe.span("sources.Sinks.writePartitioned") {
      Sinks.writePartitioned(docs.good, s"$out/documents", Seq("lang"))
    }
    docs.unpersist()
  }

  /** The batch: the market ETL (rollups and filings) into a fresh
    * directory; the first (sliced) load also loads the API's own tables.
    */
  def setup(rep: Int, slice: Boolean): Unit = {
    if (rep == 0) loadApiTables(apiDir)
    if (served.nonEmpty) Main.rmTree(new java.io.File(served))
    served = s"$work/market-$rep"
    val part = if (slice) "/part-0000" else ""
    MarketPipeline.loadRollups(spark, s"$inputs/prices$part", served)
    MarketPipeline.loadFilings(spark, s"$inputs/filings$part", served)
    tables = Seq("daily", "monthly", "combined").map { t =>
      t -> Sinks.readPartitioned(spark, s"$served/$t")
    }.toMap ++ Seq("customer", "part", "documents").map { t =>
      t -> Sinks.readPartitioned(spark, s"$apiDir/$t")
    }.toMap
  }

  /** The closed loop from the second half of the request list: traffic
    * with the timed phase's mix and key skew but not its requests.
    */
  def warmUp(deadlineNs: Long): Unit = loop(deadlineNs, shapes = false, first = requests.length / 2)

  private def grainFrame(r: Request, fromYear: String, toYear: String): DataFrame = {
    val g = tables(if (r.grain == "month") "monthly" else "daily")
    if (fromYear.isEmpty) g
    else g.filter(col("year").between(fromYear.toInt, toYear.toInt))
  }

  /** The API call a request maps to; request kind → ApiSurface function. */
  private def call(r: Request): DataFrame = r.op match {
    case "point" =>
      val g = grainFrame(r, r.period.take(4), r.period.take(4))
      Probe.span("operators.ApiSurface.dataPoint") { ApiSurface.dataPoint(g, r.entity, r.period) }
    case "range" =>
      val g = grainFrame(r, r.start.take(4), r.end.take(4))
      Probe.span("operators.ApiSurface.dataRange") { ApiSurface.dataRange(g, r.entity, r.start, r.end) }
    case "period_keys" =>
      Probe.span("operators.ApiSurface.periodKeys") { ApiSurface.periodKeys(grainFrame(r, "", ""), r.entity) }
    case "agg_types" =>
      Probe.span("operators.ApiSurface.aggTypes") { ApiSurface.aggTypes(tables("combined"), r.entity) }
    case "detail" =>
      Probe.span("operators.ApiSurface.detail") { ApiSurface.detail(tables("part"), r.partkey) }
    case "search" =>
      Probe.span("operators.ApiSurface.search") { ApiSurface.search(tables("documents"), r.needle) }
    case "report_list" =>
      Probe.span("operators.ApiSurface.reportList") {
        ApiSurface.reportList(tables("customer"), r.needle, r.page, r.limit)
      }
    case "paginate" =>
      Probe.span("operators.ApiSurface.paginate") { ApiSurface.paginate(tables("customer"), r.page, r.limit) }
  }

  def timed(deadlineNs: Long, shapes: Boolean): Phase = loop(deadlineNs, shapes, first = 0)

  /** `clients` threads, each sending request `first`, `first + 1`, …
    * (the next one not yet taken) until the deadline.
    */
  private def loop(deadlineNs: Long, shapes: Boolean, first: Int): Phase = {
    val next = new AtomicInteger(first)
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]
    samples.clear()
    sampled.clear()
    val t0 = System.nanoTime()
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        while (System.nanoTime() < deadlineNs) {
          val i = next.getAndIncrement()
          val r = requests(i % requests.length)
          var rows: Array[Row] = null
          var cols: Seq[String] = Nil
          val op = Probe.shaped("ops", shapes && i - first < ShapeRequests) {
            Probe.span("bench.request", i.toString) {
              Main.timedOp(r.op) {
                val df = call(r)
                cols = df.columns.toSeq
                rows = Probe.span("spark.collect") { df.collect() }
              }
            }
          }
          ops.add(if (rows == null) op else op.copy(rows = rows.length.toLong))
          if (op.ok && sampled.computeIfAbsent(r.op, _ => new AtomicInteger).getAndIncrement() <
              SamplesPerKind)
            samples.put(i, Map("request" -> i, "op" -> r.op, "columns" -> cols,
              "rows" -> rows.toSeq.map(plain)))
        }
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    Phase(ops.asScala.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  /** A response row as JSON-ready values; dates as their SQL text. */
  private def plain(v: Any): Any = v match {
    case row: Row => row.toSeq.map(plain)
    case d: java.util.Date => d.toString
    case x => x
  }

  def layerProbe(): Map[String, Any] =
    MarketPipeline.layerProbe(spark, s"$inputs/prices", s"$inputs/filings")

  def checks(): Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    Map("served" -> served, "api_tables" -> apiDir,
      "stored" -> MarketPipeline.stored(served, Seq("daily", "monthly", "yearly", "combined",
        "quarantine", "idx_kv", "idx_metrics", "idx_rupiah")),
      "samples" -> samples.values.asScala.toSeq.sortBy(_("request").asInstanceOf[Int]))
  }
}
