package etlbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.app.Pipeline.Dwh
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One workload: its set-up (the program's own preparation, timed), its
  * operation (timed; closed loop, one client) and the output check of
  * each operation (untimed).
  */
trait Workload {
  def setup(): Unit
  def op(i: Int): Any
  def check(i: Int, out: Any): Map[String, Any]
  /** Work run only in a traced run, after the traced operations. */
  def tracedExtras(): Unit = ()
  def summary(): Map[String, Any] = Map.empty
}

/** The benchmark's JVM side, started by run.py, which generates the
  * inputs, compares the check facts written here against ground truth
  * and prints the result. Arguments are `--key value` pairs.
  */
object Main {
  private val AsOf0 = "2026-08-12"
  private def asOf(day: Int) = java.time.LocalDate.parse(AsOf0).plusDays(day.toLong).toString

  /** Exits explicitly: a failure must not leave the JVM waiting on
    * Spark's non-daemon threads.
    */
  def main(args: Array[String]): Unit = {
    val code = try { bench(args); 0 }
    catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def bench(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = a("run")
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"

    val t0 = System.nanoTime()
    // SparkUtil.local pins the warehouse dir to one fixed path; building
    // the session first keeps every file a run makes under its run dir
    graft.SparkUtil.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", s"$run/spark-warehouse")
      .config("spark.local.dir", s"$run/spark-local")
      .getOrCreate()
    val spark = graft.SparkUtil.local(cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext
    val t = new Tracer(sc)

    val w: Workload = a("workload") match {
      case "daily_incremental" =>
        val bands = a("bands").split(",").toSeq.map(_.split(":") match { case Array(l, h) => (l.toDouble, h.toDouble) })
        new Daily(spark, t, a("input"), run, a("days").toInt, a("seed").toLong, bands)
      case "curation_mix" =>
        new CurationMix(spark, t, a("input"), run, a("queries").split(",").toSeq)
    }

    // a traced run also traces set-up: the day-0 build is the full-load path
    if (traced) t.enable()
    t.op = -1
    val s0 = System.nanoTime()
    t.span("setup")(w.setup())
    val setupS = (System.nanoTime() - s0) / 1e9
    t.disable()
    val keep = sc.getPersistentRDDs.keySet.toSet

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    // closed loop: stop before an operation that would end past the
    // budget, judging by the last one; every phase runs at least one
    def loop(phase: String, budget: Double): Unit = {
      var measured = 0.0
      var last = 0.0
      while (measured == 0.0 || measured + last <= budget) {
        val i = ops.size
        t.op = i
        val g0 = gcMs
        val c0 = os.getProcessCpuTime
        val s0 = System.nanoTime()
        val out = try Right(t.span("op")(w.op(i))) catch { case e: Exception => Left(e) }
        last = (System.nanoTime() - s0) / 1e9
        val cpu = (os.getProcessCpuTime - c0) / 1e9
        measured += last
        val gc = (gcMs - g0) / 1e3
        val pinned = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
        val chk = out match {
          case Right(o) =>
            try t.span("check")(w.check(i, o))
            catch { case e: Exception => Map[String, Any]("error" -> e.toString) }
          case Left(e) => Map[String, Any]("error" -> e.toString)
        }
        unpin(sc, keep)
        ops += Map("i" -> i, "phase" -> phase, "wall_s" -> last, "cpu_s" -> cpu, "gc_s" -> gc,
          "pinned_bytes" -> pinned, "check" -> chk)
      }
    }
    if (traced) {
      loop("untraced", seconds / 2)
      t.enable()
      loop("traced", seconds / 2)
      t.op = -2
      w.tracedExtras()
      unpin(sc, keep)
    } else loop("untraced", seconds)

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> a("workload"), "seed" -> a("seed").toLong, "cores" -> cores,
      "default_parallelism" -> sc.defaultParallelism,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "session_start_s" -> sessionS, "setup_prep_s" -> setupS,
      "ops" -> ops.toSeq, "summary" -> t.span("check")(w.summary()),
      "peak_rss_kb" -> peakRssKb())
    if (traced) {
      val work = t.work()
      val (spans, byName) = Tracer.summarize(t.spans.toSeq, work)
      out("spans") = spans
      out("by_name") = byName
      out("untagged_task_cpu_s") = work.get(-1).map(_.cpuNs / 1e9).getOrElse(0.0)
      t.disable()
    }
    val json = new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(out)
    Files.writeString(Paths.get(s"$run/jvm_result.json"), json)
    spark.stop()
  }

  /** Release every pinned RDD except `keep` (what set-up pinned). */
  private def unpin(sc: SparkContext, keep: Set[Int]): Unit =
    sc.getPersistentRDDs.foreach { case (id, r) => if (!keep.contains(id)) r.unpersist(blocking = true) }

  /** High-water resident set of this JVM (Linux /proc). */
  private def peakRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    finally src.close()
  }

  /** (bytes, files) of the Parquet files under a directory. */
  private def parquetUnder(path: String): (Long, Long) = {
    def walk(f: java.io.File): (Long, Long) =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk)
        .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
      else if (f.getName.endsWith(".parquet")) (f.length, 1L) else (0L, 0L)
    walk(new java.io.File(path))
  }

  // ---------------------------------------------------------------- workloads

  /** The production daily mode. Set-up is the day-0 full load (raw →
    * staging → star → write). Each operation reads the previous version
    * back, applies one day's re-crawl batch with incrementalBatch,
    * writes the next version, validates it and refreshes the BI views
    * over it; the day sequence 1..days replays from the same day-0
    * snapshot.
    */
  final class Daily(spark: SparkSession, t: Tracer, input: String, run: String, days: Int,
      seed: Long, bands: Seq[(Double, Double)]) extends Workload {
    private val etl = new Etl(spark, t, input)
    private val wh = s"$run/wh"
    private def day(i: Int) = Math.floorMod(i, days) + 1
    private val tables = Seq("fact", "dim_job", "dim_company", "dim_location", "dim_date", "bridge")
    private def version(v: Int) = tables.map(n => parquetUnder(s"$wh/$n/v=$v"))
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

    def setup(): Unit = {
      val (st, d) = etl.load(etl.raw(0), AsOf0)
      etl.write(d, wh, "0")
      if (t.on) {
        t.count("app.raw_to_staging", "rows_out", st.count().toDouble)
        Seq("dwh.dims" -> d.dimJob, "dwh.dim_location" -> d.dimLocation,
          "dwh.facts" -> d.fact, "dwh.bridge" -> d.bridge)
          .foreach { case (s, df) => t.count(s, "rows", df.count().toDouble) }
        val (bytes, files) = version(0)
        t.count("io.write", "bytes", bytes.toDouble)
        t.count("io.write", "files", files.toDouble)
        t.count("io.write", "input_bytes", etl.rawBytes(0).toDouble)
      }
    }

    def op(i: Int): Any = {
      val dd = day(i)
      val prev = etl.read(wh, (dd - 1).toString)
      val (st, d) = etl.incremental(prev, etl.raw(dd), asOf(dd))
      etl.write(d, wh, dd.toString)
      val v = etl.validate(d)
      val views = new Views(spark, t, d, s"$wh/fact/v=$dd", etl.months(wh, dd.toString), asOf(dd), bands)
      (prev, st, d, v, views, views.refresh(seed, i))
    }

    private def rowsJson(rs: Seq[Row]): Seq[Seq[Any]] = rs.map(_.toSeq.map {
      case d: java.sql.Date => d.toString
      case ts: java.sql.Timestamp => ts.toString
      case x => x
    })

    def check(i: Int, out: Any): Map[String, Any] = {
      val (prev, st, d, v, views, refreshed) =
        out.asInstanceOf[(Dwh, DataFrame, Dwh, Map[String, Long], Views, Seq[(ViewCall, Seq[Row])])]
      val dd = day(i)
      val (written, files) = version(dd)
      val calls = refreshed.map { case (c, rows) =>
        val extra: Map[String, Any] = c.kind match {
          case "vw_top_companies" => Map(
            "full_prefix" -> rowsJson(views.fullTopCompanies.take(rows.size)),
            "full_job_count_sum" -> views.fullTopCompanies.map(_.getLong(2)).sum)
          case "vw_top_locations" => Map("full_prefix" -> rowsJson(views.fullTopLocations.take(rows.size)))
          case _ => Map.empty
        }
        Map("kind" -> c.kind, "params" -> c.params, "rows" -> rowsJson(rows)) ++ extra
      }
      val c = Map[String, Any]("day" -> dd, "validator" -> v, "digest" -> etl.digest(wh, dd.toString),
        "written_bytes" -> written, "input_bytes" -> etl.rawBytes(dd), "views" -> calls,
        "star_rows" -> Map("fact" -> d.fact.count(), "bridge" -> d.bridge.count()))
      if (t.on) {
        val (prevRows, rows) = (prev.dimJob.count(), d.dimJob.count())
        val prevCur = prev.dimJob.filter("is_current").count()
        val cur = d.dimJob.filter("is_current").count()
        val batchJobs = st.select("job_id").distinct().count()
        val (prevFacts, facts) = (prev.fact.count(), d.fact.count())
        val kept = d.bridge.join(prev.bridge, d.bridge.columns.toSeq, "left_semi").count()
        val rowsNew = cur - prevCur
        val rowsChanged = (rows - prevRows) - rowsNew
        val (readBytes, readFiles) = version(dd - 1)
        t.count("app.raw_to_staging", "rows_out", st.count().toDouble)
        t.count("dwh.scd2", "rows_new", rowsNew.toDouble)
        t.count("dwh.scd2", "rows_changed", rowsChanged.toDouble)
        t.count("dwh.scd2", "rows_unchanged", (batchJobs - rowsNew - rowsChanged).toDouble)
        // the dimension is rewritten whole: rows written per row changed
        t.count("dwh.scd2", "rows_written", rows.toDouble)
        t.count("dwh.fact_merge", "rows_new", (facts - prevFacts).toDouble)
        t.count("dwh.fact_merge", "rows_matched", (5L * batchJobs - (facts - prevFacts)).toDouble)
        t.count("dwh.bridge_rebuild", "rows_kept", kept.toDouble)
        t.count("dwh.bridge_rebuild", "rows_touched", (d.bridge.count() - kept).toDouble)
        t.count("io.write", "bytes", written.toDouble)
        t.count("io.write", "files", files.toDouble)
        t.count("io.write", "input_bytes", etl.rawBytes(dd).toDouble)
        // io.read spans of this op: the version read-back, then the BI
        // refresh's month-pruned read
        val reads = t.spans.filter(s => s.op == i && s.name == "io.read")
        reads.head.counts ++= Seq("files_read" -> readFiles.toDouble, "files_total" -> readFiles.toDouble)
        refreshed.collect { case (ViewCall("read_partitions", p), _) => p("months").asInstanceOf[Seq[String]] }
          .zip(reads.drop(1)).foreach { case (ms, s) =>
            val files = etl.months(wh, dd.toString)
              .map(m => m -> parquetUnder(s"$wh/fact/v=$dd/load_month=$m")._2).toMap
            s.counts ++= Seq("files_read" -> ms.map(files).sum.toDouble,
              "files_total" -> files.values.sum.toDouble)
          }
      }
      c
    }

    override def tracedExtras(): Unit = etl.functionsPass(etl.raw(1), asOf(1))
  }

  /** Registry queries of the llm/operators/plans layers over seeded
    * TESTDATA-shaped tables. One operation is one pass over the list;
    * each query's full result is written under the run dir, which is
    * what the oracle check reads afterwards.
    */
  final class CurationMix(spark: SparkSession, t: Tracer, input: String, run: String,
      queries: Seq[String]) extends Workload {
    private val walls = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

    def setup(): Unit = {
      val missing = queries.filterNot(graft.SparkEntry.queries.contains)
      require(missing.isEmpty, s"unknown registry queries: ${missing.mkString(", ")}")
    }

    def op(i: Int): Any = queries.foreach { q =>
      val s0 = System.nanoTime()
      t.span(s"queries.$q")(graft.SparkEntry.queries(q)(spark, input)
        .write.mode("overwrite").parquet(s"$run/results/$q"))
      walls.getOrElseUpdate(q, mutable.ArrayBuffer()) += (System.nanoTime() - s0) / 1e9
    }

    def check(i: Int, out: Any): Map[String, Any] = Map.empty

    override def summary(): Map[String, Any] = {
      val oracles = graft.SparkEntry.oracleSql
      Map("query_walls_s" -> walls.map { case (k, v) => k -> v.toSeq }.toMap,
        "oracle_sql" -> queries.flatMap(q => oracles.get(q).map(q -> _)).toMap)
    }
  }
}
