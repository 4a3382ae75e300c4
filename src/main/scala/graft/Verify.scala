package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The session of the mains (Verify, Bench, Profile, ScaleProbe,
    * Explain): [[start]] with `SPARK_GRAFT_CPUS` cores (default 4) and a
    * warehouse dir of its own. */
  def session(appName: String): SparkSession = {
    // Dev-only A/B hook: semicolon-separated k=v pairs layered on top of
    // the standard session confs, so optimization experiments can flip
    // one conf without a code edit (the driver never sets this).
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq.flatMap { s =>
      // Loud marker (ADVICE r15): any artifact produced under a layered
      // conf must be identifiable as non-standard.
      Console.err.println(s"[graft] WARNING: SPARK_GRAFT_EXTRA_CONF overrides active: $s")
      s.split(';').filter(_.contains('=')).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k.trim -> v.trim
      }
    }
    // pid+nanoTime-unique: a managed table's directory outlives the
    // in-memory catalog, so a reused location fails the next JVM's
    // saveAsTable — and pids RECYCLE on a long-lived host (each
    // 32-thread Spark JVM burns thousands of Linux pids, so a session
    // running many forked mains wraps pid_max and collides; observed
    // round 8: LOCATION_ALREADY_EXISTS on graft-warehouse-865).
    start(appName, sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
      s"${sys.props("java.io.tmpdir")}/graft-warehouse-" +
        s"${ProcessHandle.current().pid()}-${java.lang.System.nanoTime()}",
      extra)
  }

  /** Builds (or returns the JVM's existing) graft session: local[cores],
    * `cores` shuffle partitions (not 200 — local mode has that many
    * cores), the library's extensions, no UI, WARN logs, and
    * [[Tables.requiredConfs]], then `extra` on top. The mains and the
    * test suites both start here, so their sessions cannot drift apart. */
  def start(appName: String, cores: String, warehouseDir: String,
            extra: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cores]")
      // The library's custom Expressions (dotp/poly31/shingles3) via the
      // standard extensions hook — how a cluster deployment would load
      // them; operators also self-register for foreign sessions.
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")
      .config("spark.sql.warehouse.dir", warehouseDir)
    (Tables.requiredConfs ++ extra).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg (dev-only; the driver passes two): run only
    // queries whose name starts with one of the comma-separated prefixes,
    // and emit only their oracles, so check.py can gate new queries in
    // one JVM.
    val prefixes = args.lift(2).getOrElse("").split(',').toSeq
    def selected(name: String): Boolean = prefixes.exists(name.startsWith)
    val spark = session("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // No clearCache here: cache lifecycle is operator-owned
      // (Dedup.materializeThenRelease) — CacheLifecycleSpec enforces it.
      // The written result is dead: free its checkpoint blocks now
      // instead of waiting for a driver GC (operators.Lifecycle doc).
      operators.Lifecycle.releaseAll()
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
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
