package graft

import graft.queries.Registry

/** Benchmark main: runs the data-proportional queries against
  * SPARK_GRAFT_SF_DIR and prints one JSON line for the driver.
  *
  * Each query is fully materialized through a noop datasource write
  * (all columns computed and serialized — a bare .count() would let
  * Catalyst prune projection work and flatter the numbers). A failed
  * query reports -1.0 so breakage cannot masquerade as speed.
  *
  * Every query runs THREE times and the reported number is the min of
  * the successful passes: a single contended pass (GC storm, another
  * process on the box) cannot poison a round's signal, and measured
  * per-query warmup (whole-stage-codegen compilation of that query's
  * stages) only fully amortizes by the third execution — min-of-2
  * still charged queries for Janino compile time. All raw passes are
  * printed to stderr for auditability.
  *
  * Run-to-run hygiene — a full-registry run must not degrade
  * monotonically (the round-6 driver bench did):
  *  - SETUP builds the shared state steady-state queries assume (the
  *    view star, the incremental day-1 warehouse, the streaming watch
  *    dir); their RDD ids are then PROTECTED.
  *  - after every pass, every persistent RDD outside the protected set
  *    (the pass's lazy localCheckpoints — e2e builds, dedup candidate
  *    frames, component-propagation rounds) is unpersisted explicitly
  *    and a System.gc() lets the ContextCleaner reap dead shuffle and
  *    broadcast state, so blocks cannot pile up across 85 queries.
  *  - per-pass heap/storage telemetry goes to stderr, so if a run IS
  *    degrading, the log says what grew.
  *  - the JVM runs with an enlarged code cache (build.sbt): codegen
  *    churns fresh classes per plan, and once the default 240 MB cache
  *    filled, HotSpot disabled the JIT and every later query ran
  *    interpreted ~5× slower — the dominant round-6 contamination.
  */
object Bench {
  // Env-overridable for scale PROBES (e.g. the sf3 heavy-subset sweep,
  // where a third pass of the quadratic graph family buys minutes of
  // wall for no extra signal); the driver's per-round bench never sets
  // it and keeps the min-of-3 contract.
  private val Passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt

  def main(args: Array[String]): Unit = {
    // f-interpolators delegate to String.format under the DEFAULT
    // locale; pin ROOT so no host locale can corrupt numeric output.
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    Registry.requireRegistered(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkUtil.local()
    val sc = spark.sparkContext
    val queries = SparkEntry.queries
    // One warm scan so first-query numbers aren't dominated by parquet
    // footer reads / JIT; mirrors a warmed cluster's steady state.
    Tables.lineitem(spark, sfDir).write.format("noop").mode("overwrite").save()
    // Stage the streaming watch dirs once (setup, not query work) so
    // q_st1/q_st3 time the stream, not a file copy.
    graft.streaming.CdcStream.ensureStaged(spark, sfDir)
    graft.streaming.CdcStream.ensureStagedWithSentinel(spark, sfDir)
    graft.streaming.CdcStream.ensureStagedLateActs(spark, sfDir)
    // Shared star + day-1 warehouse (setup: BI views query an
    // already-loaded star; the incremental query measures the apply).
    graft.queries.DwhQueries.warmShared(spark, sfDir)
    val protectedIds = sc.getPersistentRDDs.keySet
    // GC fires when a pass actually left checkpoint residue (so the
    // ContextCleaner reaps its blocks/shuffles) or every 10th pass as a
    // heartbeat — a 48 GB heap rarely GCs on its own, and a forced gc
    // per floor-query pass would add ~tens of seconds to the run's wall
    var passesSinceGc = 0
    def sweep(): Unit = {
      val stray = sc.getPersistentRDDs.filterNot { case (id, _) => protectedIds(id) }
      stray.values.foreach(_.unpersist(false))
      passesSinceGc += 1
      if (stray.nonEmpty || passesSinceGc >= 10) {
        System.gc()
        passesSinceGc = 0
      }
    }
    // job/task counters: task-seconds (thread wall) still inflates
    // under host CPU starvation, so ALSO track executorCpuTime — equal
    // job/task/cpu with divergent taskSec or wall = host, not plan
    val nJobs = new java.util.concurrent.atomic.AtomicLong
    val nTasks = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        nJobs.incrementAndGet()
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        nTasks.incrementAndGet()
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
        if (t.taskMetrics != null) cpuNs.addAndGet(t.taskMetrics.executorCpuTime)
      }
    })
    def telemetry: String = {
      val rt = Runtime.getRuntime
      val heap = (rt.totalMemory - rt.freeMemory) / (1 << 20)
      val storage = sc.getRDDStorageInfo.map(_.memSize).sum / (1 << 20)
      s"heapMB=$heap storageMB=$storage cachedRdds=${sc.getPersistentRDDs.size}"
    }
    // Per-query DuckDB oracle walls (tools/oracle_walls.py, committed
    // as repo-root ORACLE_WALLS.json): when present, each query's
    // BENCH_DETAIL work row also carries {oracleWall, ratio, floor} so
    // the BASELINE <=2x contract is per-query auditable from one
    // artifact. floor=true marks sub-1.5s Spark walls — at toy SF
    // those are per-job scheduling floor, not data work, so their
    // ratio must not be read as engine speed (DuckDB's per-query floor
    // is ~5 ms; Spark's is ~0.3-1 s regardless of data volume).
    val oracleWalls: Map[String, Double] = try {
      val p = java.nio.file.Paths.get("ORACLE_WALLS.json")
      if (java.nio.file.Files.exists(p)) {
        // real JSON parse (Jackson ships with Spark) — immune to key
        // ordering, extra top-level keys, and e-notation floats
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val walls = om.readTree(java.nio.file.Files.readString(p)).get("walls")
        if (walls == null || !walls.isObject) Map.empty
        else {
          val b = Map.newBuilder[String, Double]
          val it = walls.fields()
          while (it.hasNext) {
            val e = it.next()
            if (e.getValue.isNumber) b += (e.getKey -> e.getValue.asDouble)
          }
          b.result()
        }
      } else Map.empty
    } catch { case e: Throwable =>
      System.err.println(s"[bench] ORACLE_WALLS.json unreadable: $e"); Map.empty
    }
    // Optional name args restrict the run (dev iteration on a subset);
    // the driver passes none and always benches the full registry.
    val names =
      if (args.nonEmpty) Registry.benchNames.filter(args.toSet) else Registry.benchNames
    val results = names.map { name =>
      val passStats = (1 to Passes).map { _ =>
        val j0 = nJobs.get; val k0 = nTasks.get; val m0 = taskMs.get; val c0 = cpuNs.get
        val t0 = System.nanoTime()
        val sec =
          try {
            queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          } catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
              -1.0
          } finally sweep()
        // Listener events arrive on an async bus; sample only after two
        // consecutive reads agree (bounded wait), else a busy minute's
        // straggler events leak this pass's work into the next pass —
        // corrupting exactly the counters this telemetry exists for.
        var snap = (nJobs.get, nTasks.get, taskMs.get, cpuNs.get)
        var settled = false
        var tries = 0
        while (!settled && tries < 40) {
          Thread.sleep(50)
          val next = (nJobs.get, nTasks.get, taskMs.get, cpuNs.get)
          settled = next == snap
          snap = next
          tries += 1
        }
        (sec, nJobs.get - j0, nTasks.get - k0, (taskMs.get - m0) / 1000.0,
          (cpuNs.get - c0) / 1e9)
      }
      val passes = passStats.map(_._1)
      val ok = passes.filter(_ >= 0)
      val sec = if (ok.isEmpty) -1.0 else ok.min
      val work = passStats.map(p => f"${p._2}j/${p._3}t/${p._4}%.1fs/${p._5}%.1fcpu").mkString(",")
      System.err.println(
        f"[bench] $name passes=${passes.map(p => f"$p%.3f").mkString(",")} min=$sec%.3f work=$work $telemetry")
      // best (min-wall) pass's counters ride into BENCH_DETAIL.json so a
      // future wall anomaly self-adjudicates: identical jobs/tasks/cpuSec
      // vs a prior round with divergent wall = host noise, not the plan
      val bestWork = passStats.filter(_._1 >= 0).sortBy(_._1).headOption.map { b =>
        val ow = oracleWalls.get(name).filter(_ > 0).map { o =>
          f""","oracleWall":$o%.3f,"ratio":${b._1 / o}%.2f,"floor":${b._1 < 1.5}"""
        }.getOrElse("")
        f"""{"wall":${b._1}%.3f,"jobs":${b._2},"tasks":${b._3},"taskSec":${b._4}%.1f,"cpuSec":${b._5}%.1f$ow}"""
      }
      (name, sec, bestWork)
    }
    // The driver captures only the LAST 2000 chars of stdout. A single
    // line with ~90 full query names is ~2.4 KB and can never fit, so:
    //  - per-query detail goes on preceding stdout lines, sorted
    //    ASCENDING by time so the slowest (most informative) entries
    //    sit nearest the capture window;
    //  - the FINAL line is a compact summary, hard-capped well under
    //    the window, carrying the slowest entries that fit plus an
    //    explicit truncation marker;
    //  - the full-precision map is also written to a cwd-relative
    //    audit file (best-effort: a failed audit write must never
    //    suppress the stdout result).
    // All numeric formatting pins Locale.ROOT: a comma-decimal default
    // locale would otherwise emit invalid JSON.
    def fmt(v: Double, dp: Int): String =
      if (v < 0) "-1.0" else String.format(java.util.Locale.ROOT, s"%.${dp}f", v)
    def entry(k: String, v: Double, dp: Int): String = "\"" + k + "\":" + fmt(v, dp)
    val total = results.map(_._2).filter(_ >= 0).sum
    val failed = results.count(_._2 < 0)
    val fullJson = {
      val qs = results.map { case (k, v, _) => entry(k, v, 3) }.mkString("{", ",", "}")
      val wk = results.collect { case (k, _, Some(w)) => "\"" + k + "\":" + w }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","queries":$qs,"work":$wk,"sf":"$sfDir"}"""
    }
    // Two copies: target/ for local dev, and a repo-root BENCH_DETAIL
    // .json the driver's end-of-round commit picks up — the stdout
    // summary stays truncated by the driver's 2000-char tail window,
    // so this file is the only complete, diffable per-query record.
    // a subset run (dev iteration with name args) must not clobber the
    // repo-root full-registry record; it still writes target/ for audit
    val auditPaths =
      if (args.nonEmpty) Seq(java.nio.file.Paths.get("target", "bench_last.json"))
      else Seq(java.nio.file.Paths.get("target", "bench_last.json"),
        java.nio.file.Paths.get("BENCH_DETAIL.json"))
    auditPaths.foreach { p =>
      try {
        if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, fullJson + "\n")
      } catch { case e: Throwable => System.err.println(s"[bench] audit write failed ($p): $e") }
    }
    val ascending = results.map { case (k, v, _) => k -> v }
      .sortBy { case (_, v) => if (v < 0) Double.MaxValue else v }
    val detailLines = ascending.map { case (k, v) => entry(k, v, 2) }
      .grouped(15).zipWithIndex.map { case (chunk, i) =>
        s"""{"benchDetail":${i + 1},"q":{${chunk.mkString(",")}}}"""
      }.toSeq
    // Slowest-first entries into the summary until the byte budget is
    // hit; 1500 leaves headroom for preceding detail in the window.
    val budget = 1500
    val head = s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","nQueries":${results.size},"failed":$failed,"sf":"$sfDir","queriesTruncated":"""
    val slow = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = head.length + 90 // marker + queries key + braces slack
    ascending.reverse.foreach { case (k, v) =>
      val e = entry(k, v, 2)
      if (used + e.length + 1 <= budget) { slow += e; used += e.length + 1 }
    }
    val truncated = slow.size < results.size
    val summary = head + truncated + ",\"queries\":{" + slow.mkString(",") + "}}"
    // stop Spark BEFORE printing: its stop-time log lines (and any
    // shutdown-hook chatter) must not land after the driver-parsed line
    spark.stop()
    detailLines.foreach(println)
    println(summary)
  }
}
