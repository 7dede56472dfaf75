package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.perfbench.Probe
import org.apache.spark.sql.types._

import graft.operators.{Extraction, Rollups}
import graft.sources.{Ingest, Sinks}

/** The nightly batch ETL: YFinance-style OHLCV rollups and IDX-style
  * filing extraction, from raw files to partitioned parquet tables.
  * [[ApiServe]]'s set-up runs it to load the tables it serves.
  */
object MarketPipeline {
  val PriceSchema: StructType = new StructType()
    .add("entity_id", LongType).add("date", DateType)
    .add("open", DoubleType).add("high", DoubleType).add("low", DoubleType)
    .add("close", DoubleType).add("volume", DoubleType)
  /** `adj_close` is absent from the files; `normalize` defaults it. */
  val NumericCols: Seq[String] = Seq("open", "high", "low", "close", "volume", "adj_close")
  val FilingSchema: StructType = new StructType()
    .add("filing_id", LongType).add("entity_id", LongType)
    .add("year", IntegerType).add("period", StringType)
    .add("revenue", DecimalType(18, 2))
    .add("item", ArrayType(new StructType()
      .add("amount", DecimalType(18, 2)).add("discount", DecimalType(4, 2))))

  private def withYear(df: DataFrame): DataFrame =
    df.withColumn("year", substring(col("period_key"), 1, 4).cast("int"))

  /** prices → normalize → day/month/year/combined grains, each written
    * partitioned by year (combined by agg_type).
    */
  def loadRollups(spark: SparkSession, prices: String, out: String): Unit = {
    val ing = Probe.span("sources.Ingest.csvWithQuarantine") {
      Ingest.csvWithQuarantine(spark, prices, PriceSchema)
    }
    val norm = Probe.span("operators.Rollups.normalize") { Rollups.normalize(ing.good, NumericCols) }
    val s = Probe.span("operators.Rollups.series") { Rollups.series(norm, "entity_id", "date", "close") }
    val grains: Seq[(String, DataFrame => DataFrame)] = Seq(
      "daily" -> Rollups.daily, "monthly" -> Rollups.monthly, "yearly" -> Rollups.yearly)
    grains.foreach { case (name, f) =>
      val g = Probe.span(s"operators.Rollups.$name") { f(s) }
      Probe.span("sources.Sinks.writePartitioned") {
        Sinks.writePartitioned(withYear(g), s"$out/$name", Seq("year"))
      }
    }
    val c = Probe.span("operators.Rollups.combined") { Rollups.combined(s) }
    Probe.span("sources.Sinks.writePartitioned") {
      Sinks.writePartitioned(c, s"$out/combined", Seq("agg_type"))
    }
    ing.unpersist()
  }

  /** Parsed filings as the (events, orders, lineitem) frames the
    * Extraction operators take: revenue in cents is the event payload,
    * a filing is an order and its `<item>`s are its line items.
    */
  def idxFrames(good: DataFrame): (DataFrame, DataFrame, DataFrame) = (
    good.select(col("filing_id").as("event_id"),
      concat_ws("-", col("year"), col("period")).as("event_type"),
      to_json(struct((col("revenue") * 100).cast("long").as("k"))).as("props")),
    good.select(col("filing_id").as("o_orderkey"),
      col("entity_id").as("o_custkey"), col("revenue").as("o_totalprice")),
    good.select(col("filing_id").as("l_orderkey"), explode(col("item")).as("it"))
      .select(col("l_orderkey"), col("it.amount").as("l_extendedprice"),
        col("it.discount").as("l_discount")))

  /** filings XML → quarantine split → kv extraction, per-entity
    * financial metrics and Rupiah formatting, each written as a table.
    */
  def loadFilings(spark: SparkSession, filings: String, out: String): Unit = {
    val ing = Probe.span("sources.Ingest.xmlWithQuarantine") {
      Ingest.xmlWithQuarantine(spark, filings, FilingSchema, "filing")
    }
    val (events, orders, lineitem) = idxFrames(ing.good)
    Probe.span("sources.Sinks.writePartitioned") {
      Sinks.writePartitioned(ing.quarantined, s"$out/quarantine", Nil)
    }
    val kv = Probe.span("operators.Extraction.kvExtractXml") { Extraction.kvExtractXml(events) }
    Probe.span("sources.Sinks.writePartitioned") {
      Sinks.writePartitioned(kv, s"$out/idx_kv", Seq("type_value"))
    }
    val fin = Probe.span("operators.Extraction.financialMetrics") {
      Extraction.financialMetrics(orders, lineitem)
    }
    Probe.span("sources.Sinks.writePartitioned") {
      Sinks.writePartitioned(fin, s"$out/idx_metrics", Nil)
    }
    val rp = Probe.span("operators.Extraction.formatRupiah") { Extraction.formatRupiah(orders) }
    Probe.span("sources.Sinks.writePartitioned") {
      Sinks.writePartitioned(rp, s"$out/idx_rupiah", Nil)
    }
    ing.unpersist()
  }

  /** Traced runs: each pipeline operator and the XML kernel on their own. */
  def layerProbe(spark: SparkSession, prices: String, filings: String): Map[String, Any] = {
    val s = Rollups.series(Rollups.normalize(
      spark.read.schema(PriceSchema).option("header", "true").csv(prices), NumericCols),
      "entity_id", "date", "close").cache()
    val nSeries = s.count()
    val good = spark.read.schema(FilingSchema).option("rowTag", "filing").xml(filings)
      .filter(col("filing_id").isNotNull && col("revenue").isNotNull).cache()
    val nFilings = good.count()
    val (events, orders, lineitem) = idxFrames(good)
    val res = Probes.execAll(nSeries, Seq[(String, () => DataFrame)](
      "operators.Rollups.daily" -> (() => Rollups.daily(s)),
      "operators.Rollups.monthly" -> (() => Rollups.monthly(s)),
      "operators.Rollups.yearly" -> (() => Rollups.yearly(s)),
      "operators.Rollups.combined" -> (() => Rollups.combined(s)))) ++
      Probes.execAll(nFilings, Seq[(String, () => DataFrame)](
        "operators.Extraction.kvExtractXml" -> (() => Extraction.kvExtractXml(events)),
        "operators.Extraction.financialMetrics" -> (() => Extraction.financialMetrics(orders, lineitem)),
        "operators.Extraction.formatRupiah" -> (() => Extraction.formatRupiah(orders))))
    s.unpersist(); good.unpersist()
    val payload = spark.read.text(filings).filter(col("value").startsWith("<filing>")).cache()
    val n = payload.count()
    val xml = Probes.kernel("plans.XmlExprs.xmlLeafMap", n,
      payload.select(graft.plans.XmlExprs.xmlLeafMap(col("value")).as("m")))
    payload.unpersist()
    Map("exec" -> res, "kernels" -> Map("xml" -> xml))
  }

  /** Data files and their bytes under each written table directory. */
  def stored(dir: String, tables: Seq[String]): Map[String, Map[String, Long]] = {
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
      else if (f.getName.startsWith("part-")) Seq(f) else Nil
    tables.map { t =>
      val fs = files(new File(s"$dir/$t"))
      t -> Map("files" -> fs.size.toLong, "bytes" -> fs.map(_.length).sum)
    }.toMap
  }
}
