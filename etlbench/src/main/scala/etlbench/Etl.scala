package etlbench

import java.io.File

import graft.app.Pipeline
import graft.app.Pipeline.Dwh
import graft.functions.{LocationFns, SalaryFns, TextFns, TimeFns}
import graft.io.Snapshots
import graft.quality.Validator
import graft.views.AnalyticsViews
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The ETL path through the library's public API. Every call is wrapped
  * in a span and its output forced (pinned with an eager local
  * checkpoint, written, or collected) before the span closes, so a
  * span's jobs are the work of the call it names.
  */
final class Etl(spark: SparkSession, t: Tracer, input: String) {

  def raw(day: Int): DataFrame = spark.read.parquet(s"$input/day$day.parquet")
  def rawBytes(day: Int): Long = new File(s"$input/day$day.parquet").length

  private def pin(df: DataFrame): DataFrame = df.localCheckpoint()

  def staging(rawDf: DataFrame, asOf: String): DataFrame =
    t.span("app.raw_to_staging")(pin(Pipeline.rawToStaging(rawDf, s"$asOf 00:00:00")))

  private def force(d: Dwh, names: (String, String, String, String)): Dwh = {
    val (dims, loc, fact, bridge) = names
    val (dj, dc) = t.span(dims)((pin(d.dimJob), pin(d.dimCompany)))
    val dl = t.span(loc)(pin(d.dimLocation))
    val f = t.span(fact)(pin(d.fact))
    val b = t.span(bridge)(pin(d.bridge))
    Dwh(dj, dc, dl, d.dimDate, f, b)
  }

  /** Initial build: raw → staging → star. */
  def load(rawDf: DataFrame, asOf: String): (DataFrame, Dwh) = {
    val st = staging(rawDf, asOf)
    val d = t.span("app.staging_to_dwh")(
      force(Pipeline.stagingToDwh(st, asOf), ("dwh.dims", "dwh.dim_location", "dwh.facts", "dwh.bridge")))
    (st, d)
  }

  /** One daily batch applied onto `prev`. */
  def incremental(prev: Dwh, rawDf: DataFrame, asOf: String): (DataFrame, Dwh) = {
    val st = staging(rawDf, asOf)
    val d = t.span("app.incremental_batch")(
      force(Pipeline.incrementalBatch(prev, st, asOf),
        ("dwh.scd2", "dwh.dim_location", "dwh.fact_merge", "dwh.bridge_rebuild")))
    (st, d)
  }

  private val tables = Seq("dim_job", "dim_company", "dim_location", "dim_date", "bridge")
  private def parts(d: Dwh) = Seq(d.dimJob, d.dimCompany, d.dimLocation, d.dimDate, d.bridge)
  private def factDir(wh: String, v: String) = s"$wh/fact/v=$v"

  /** Fact partitioned by load_month, every other table as a snapshot version. */
  def write(d: Dwh, wh: String, v: String): Unit = t.span("io.write") {
    Snapshots.writePartitioned(d.fact, factDir(wh, v))
    tables.zip(parts(d)).foreach { case (n, df) => Snapshots.writeSnapshot(df, s"$wh/$n", v) }
  }

  def months(wh: String, v: String): Seq[String] =
    Option(new File(factDir(wh, v)).list()).toSeq.flatten
      .filter(_.startsWith("load_month=")).map(_.stripPrefix("load_month=")).sorted

  /** Read a written version back and pin it. */
  def read(wh: String, v: String): Dwh = t.span("io.read") {
    def snap(n: String) = pin(Snapshots.readSnapshot(spark, s"$wh/$n", v))
    Dwh(snap("dim_job"), snap("dim_company"), snap("dim_location"), snap("dim_date"),
      pin(Snapshots.readPartitions(spark, factDir(wh, v), months(wh, v))), snap("bridge"))
  }

  def validate(d: Dwh): Map[String, Long] = t.span("quality.validator") {
    Validator.report(Seq(
      Validator.duplicateCurrentKeys(d.dimJob, "job_id"),
      Validator.orphanCount("orphan_job_sk", d.fact, d.dimJob.select(col("job_sk")), "job_sk"),
      Validator.orphanCount("orphan_company_sk", d.fact,
        d.dimCompany.select(col("company_sk")), "company_sk"),
      Validator.orphanCount("orphan_bridge_fact", d.bridge, d.fact.select(col("fact_id")), "fact_id"),
      Validator.invertedRange("salary_inverted", d.fact, "salary_min", "salary_max"),
      Validator.nullCriticals("null_fact_keys", d.fact,
        Seq("fact_id", "job_sk", "company_sk", "date_id"))))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** What a user of the written warehouse sees, for the output checks. */
  def digest(wh: String, v: String): Map[String, Any] = {
    val dj = Snapshots.readSnapshot(spark, s"$wh/dim_job", v)
    val f = spark.read.parquet(factDir(wh, v))
    Map(
      "jobs" -> dj.filter(col("is_current")).select("job_id").distinct().count(),
      "dim_job_rows" -> dj.count(),
      "facts" -> f.count(),
      "facts_by_month" -> f.groupBy("load_month").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  /** Each parse/standardize function alone, as a projection over the same
    * pinned raw batch (`functions.scan` is the projection of a plain
    * column, the floor every other entry includes).
    */
  def functionsPass(rawDf: DataFrame, asOf: String): Unit = {
    val now = to_timestamp(lit(s"$asOf 00:00:00"))
    val in = pin(rawDf
      .withColumn("location_pairs", LocationFns.extractLocationInfo(col("location_detail")))
      .withColumn("due_date",
        TimeFns.dueDate(lit(null).cast("timestamp"), col("crawled_at"), col("deadline"))))
    val fns = Seq(
      "scan" -> col("job_id"),
      "normalize_salary" -> SalaryFns.normalizeSalary(col("salary")),
      "clean_title" -> TextFns.cleanTitle(col("title")),
      "clean_company_name" -> TextFns.cleanCompanyName(col("company_name")),
      "extract_location_info" -> LocationFns.extractLocationInfo(col("location_detail")),
      "refine_location" -> LocationFns.refineLocation(col("location"), col("location_pairs")),
      "parse_last_update" -> TextFns.parseLastUpdate(col("last_update")),
      "due_date" -> TimeFns.dueDate(lit(null).cast("timestamp"), col("crawled_at"), col("deadline")),
      "time_remaining" -> TimeFns.timeRemaining(col("due_date"), now),
      "load_month" -> TimeFns.loadMonth(col("crawled_at"), now),
      "parse_job_location" -> LocationFns.parseJobLocation(col("location")))
    val rows = in.count()
    fns.foreach { case (n, c) =>
      t.span(s"functions.$n")(in.select(c.as("v")).write.format("noop").mode("overwrite").save())
      t.count(s"functions.$n", "rows", rows.toDouble)
    }
  }
}

/** One BI call: a view (or a month-pruned partition read) and the
  * client's parameters for it.
  */
final case class ViewCall(kind: String, params: Map[String, Any])

/** The BI refresh that follows a load: each of the seven vw_* views and
  * a month-pruned partition read, with the client's parameters (salary
  * band, month, top-N, as-of day) drawn from the seed. Each call is
  * forced by collecting its (small) result.
  */
final class Views(spark: SparkSession, t: Tracer, star: Dwh, factDir: String,
    months: Seq[String], asOf: String, bands: Seq[(Double, Double)]) {

  val Kinds = Seq("vw_current_jobs", "vw_job_locations", "vw_monthly_jobs",
    "vw_top_companies", "vw_top_locations", "vw_job_salary_filter", "vw_top10_hn",
    "read_partitions")

  /** The parameters of view `kind` in refresh `i`. */
  def call(seed: Long, i: Int, kind: String): ViewCall = {
    val r = new scala.util.Random(seed * 1000003L + i * 31L + Kinds.indexOf(kind))
    val day = java.time.LocalDate.parse(asOf).plusDays(r.nextInt(20).toLong).toString
    val ms = r.shuffle(months).take(1 + r.nextInt(math.min(3, months.size))).sorted
    val band = r.nextInt(bands.size)
    kind match {
      case "vw_current_jobs" =>
        ViewCall(kind, Map("band" -> band, "lo" -> bands(band)._1, "hi" -> bands(band)._2))
      case "vw_monthly_jobs" => ViewCall(kind, Map("month" -> ms.head))
      case "vw_top_companies" | "vw_top_locations" => ViewCall(kind, Map("n" -> (5 + r.nextInt(46))))
      case "vw_job_salary_filter" | "vw_top10_hn" => ViewCall(kind, Map("asof" -> day))
      case "read_partitions" => ViewCall(kind, Map("months" -> ms))
      case _ => ViewCall(kind, Map.empty)
    }
  }

  def refresh(seed: Long, i: Int): Seq[(ViewCall, Seq[Row])] =
    Kinds.map { k => val c = call(seed, i, k); c -> run(c) }

  /** Run one call; returns its collected rows. */
  def run(c: ViewCall): Seq[Row] = {
    def p[T](k: String) = c.params(k).asInstanceOf[T]
    val span = if (c.kind == "read_partitions") "io.read" else s"views.${c.kind}"
    t.span(span) {
      (c.kind match {
        case "vw_current_jobs" =>
          AnalyticsViews.vwCurrentJobs(star)
            .filter(col("salary_min") >= p[Double]("lo") && col("salary_max") <= p[Double]("hi"))
            .agg(count(lit(1)).as("n"), countDistinct(col("job_sk")).as("jobs"))
        case "vw_job_locations" =>
          AnalyticsViews.vwJobLocations(star).groupBy(coalesce(col("province"), lit("?")).as("province"))
            .agg(count(lit(1)).as("n")).orderBy("province")
        case "vw_monthly_jobs" =>
          AnalyticsViews.vwMonthlyJobs(star).filter(col("load_month") === p[String]("month"))
        case "vw_top_companies" => AnalyticsViews.vwTopCompanies(star).limit(p[Int]("n"))
        case "vw_top_locations" => AnalyticsViews.vwTopLocations(star).limit(p[Int]("n"))
        case "vw_job_salary_filter" =>
          AnalyticsViews.vwJobSalaryFilter(star, p[String]("asof"))
            .agg(count(lit(1)).as("n"),
              sum(when(col("salary_min") < 10 || col("salary_max") > 20 ||
                col("due_date") < lit(p[String]("asof")).cast("date"), 1).otherwise(0)).as("bad"))
        case "vw_top10_hn" => AnalyticsViews.vwTop10Hanoi(star, p[String]("asof"))
        case "read_partitions" =>
          Snapshots.readPartitions(spark, factDir, p[Seq[String]]("months"))
            .groupBy("load_month").count().orderBy("load_month")
      }).collect().toSeq
    }
  }

  /** Unlimited top-N results, for the checks (untimed). */
  def fullTopCompanies: Seq[Row] = AnalyticsViews.vwTopCompanies(star).collect().toSeq
  def fullTopLocations: Seq[Row] = AnalyticsViews.vwTopLocations(star).collect().toSeq
}
