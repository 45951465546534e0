package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [queryName...]")
    val (sfDir, outDir) = (args(0), args(1))
    // optional name filter: dump only these queries (selfcheck-style
    // subset iteration); no filter = the full registry
    graft.queries.Registry.requireRegistered(args.drop(2).toSeq)
    val only = args.drop(2).toSet
    val spark = SparkUtil.local()
    val sc = spark.sparkContext
    new java.io.File(outDir).mkdirs()
    // Same run-length hygiene as Bench: build the shared per-JVM state
    // (view star, incremental day-1 warehouse) up front and protect its
    // RDDs, then unpersist each query's lazy-checkpoint residue (e2e
    // builds, dedup candidate frames) so an 85-query run cannot
    // accumulate block-manager state. The unpersist alone leaves dead
    // shuffle/broadcast state for the ContextCleaner, which a 48 GB
    // heap rarely GCs into collecting on its own — at sf1.0 the
    // residue of ~180 queries OOM'd a pagerank task — so sweep with
    // the same periodic System.gc() the Bench loop uses.
    graft.queries.DwhQueries.warmShared(spark, sfDir)
    val protectedIds = sc.getPersistentRDDs.keySet
    var sinceGc = 0
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      val stray = sc.getPersistentRDDs
        .filterNot { case (id, _) => protectedIds(id) }
      stray.values.foreach(_.unpersist(false))
      // GC on a fixed cadence, not per-stray: most queries checkpoint
      // SOMETHING, so gating on stray.nonEmpty fired a full 48 GB-heap
      // GC after nearly every query (~1 s each × 268). A 10-query
      // cadence keeps the run-length OOM mitigation (the residue that
      // mattered at sf1.0 accumulated over ~180 queries) at 1/10 the
      // GC wall.
      sinceGc += 1
      if (sinceGc >= 10) { System.gc(); sinceGc = 0 }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
