package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. A warmup pass (count over lineitem + a tiny
  * changelog query) runs first so JVM/classloader/codegen startup cost does
  * not land in the first timed query.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession(GraftSession.cpus, Some(sfDir))

    // warmup: parquet read + shuffle + codegen paths
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    SparkEntry.queries("changelog_upsert_materialize")(spark, sfDir).count()

    // two timed passes per query, report the min: first execution of each
    // distinct plan pays 1-3s of codegen/JIT that says nothing about the
    // operator; min-of-2 measures steady-state throughput
    // a failed query reports -1, never a time-to-exception (which would
    // flatter the total when a slow query regresses into a fast failure)
    var failed = List.empty[String]
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        val secs = (System.nanoTime() - t0) / 1e9
        // per-query progress on stderr: long scale runs are otherwise
        // silent for an hour+, which makes a pathological query
        // indistinguishable from normal progress
        System.err.println(f"[bench] $name%s $secs%.1fs")
        secs
      }
      catch {
        case e: Throwable =>
          if (!failed.contains(name)) {
            failed ::= name
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          }
          -1.0
      }
    }
    // subset control for scale runs: SPARK_GRAFT_ONLY keeps just the named
    // queries (comma-separated).
    // Every query benches first-class (the r8 interval_join substitution is
    // gone: its dominant cost — the distinct-pair shuffle — is inherent to
    // the pair semantics and was already being paid by the agg twin on both
    // engines; Spark counts the pairs without collecting them, and the
    // DuckDB leg below runs the identical set, so the ratio stays
    // symmetric even where output grows super-linearly).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val pass1 = sorted.map { case (n, f) => n -> timeOnce(n, f) }.toMap
    val results = sorted.map { case (n, f) =>
      val t2 = timeOnce(n, f)
      val t1 = pass1(n)
      n -> (if (t1 < 0 || t2 < 0) -1.0 else math.min(t1, t2))
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fq = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    // the DuckDB baseline pass costs real wall time (full oracle suite);
    // on by default because the per-round bench line carries the ratio, but
    // SPARK_GRAFT_ORACLE_WALL=0 skips it for quick local iterations
    val oracleWall =
      if (sys.env.getOrElse("SPARK_GRAFT_ORACLE_WALL", "1") == "0") None
      else duckDbOracleWall(sfDir, results.map(_._1).toSet)
    val ratio = oracleWall.filter(_ > 0).map(w => total / w)
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$fq,""" +
        s""""oracle_wall_s":${oracleWall.getOrElse(-1.0)},""" +
        s""""bench_vs_baseline":${ratio.getOrElse(-1.0)},"sf":"$sfDir"}"""
    // Output protocol, learned the hard way across rounds: the harness that
    // captures stdout parses the FIRST metric-looking line and truncates
    // long lines (a ~4KB full-map line came back unparseable in round 8,
    // while round 7's ~3.8KB line parsed). So stdout carries exactly ONE
    // metric line, kept under ~3.6KB: headline totals, the slowest queries
    // that fit, and the COMPLETE per-query map folded in as
    // gzip+base64 (`queries_gz_b64`, ~1.5KB for 157 queries). The raw
    // uncompressed full line goes to BENCH_SELF.json (committed artifact).
    val benchOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      java.nio.file.Path.of(System.getProperty("user.dir"), "BENCH_SELF.json").toString)
    try java.nio.file.Files.writeString(java.nio.file.Path.of(benchOut), fullLine + "\n")
    catch {
      case e: Throwable =>
        System.err.println(s"[bench] could not persist full line to $benchOut: $e")
    }
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    // top slowest queries, as many as keep the line under budget — the
    // COMPLETE map already ships uncompressed in BENCH_SELF.json; the
    // round-8/9 gz+base64 fold made the stdout line itself unparseable,
    // so the stdout line now carries plain JSON only, <2KB
    val budget = 2000
    val slowSorted = results.filter(_._2 >= 0).sortBy(-_._2)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }
    def line(slowN: Int): String = {
      val slow = slowSorted.take(slowN).mkString("{", ",", "}")
      s"""{"metric":"total","value":${r3(total)},"unit":"sec",""" +
        s""""n_queries":${results.size},"queries":$slow,"failed":$fq,""" +
        s""""oracle_wall_s":${r3(oracleWall.getOrElse(-1.0))},""" +
        s""""bench_vs_baseline":${r3(ratio.getOrElse(-1.0))},""" +
        s""""queries_full":"BENCH_SELF.json","sf":"$sfDir"}"""
    }
    val n = (results.size to 0 by -1).find(line(_).length <= budget).getOrElse(0)
    println(line(n))
    spark.stop()
  }

  /** Single-node baseline: wall-clock of the DuckDB oracle suite over the
    * same parquet at the same SF — measured, not inferred — restricted to
    * `benched` so both engines time the SAME query set (a query benched on
    * neither side, e.g. a benchSkip'd output-unbounded twin, is excluded
    * from both legs of the ratio). Runs the driver-side duckdb (the oracle
    * engine) via python3; when that environment isn't present the field
    * reports -1 and the bench line is otherwise unchanged.
    */
  private def duckDbOracleWall(sfDir: String, benched: Set[String]): Option[Double] =
    try {
      val oracleJson = java.io.File.createTempFile("bench_oracle", ".json")
      oracleJson.deleteOnExit()
      java.nio.file.Files.writeString(oracleJson.toPath,
        SparkEntry.oracleSql.filter(kv => benched.contains(kv._1))
          .map { case (k, v) => s"${Verify.jsonString(k)}: ${Verify.jsonString(v)}" }
          .mkString("{", ",", "}"))
      val script =
        s"""import json, sys, time
           |import duckdb
           |sqls = json.load(open(${"\"" + oracleJson.getAbsolutePath + "\""}))
           |con = duckdb.connect()
           |for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
           |    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('$sfDir/{t}.parquet')")
           |t0 = time.time()
           |for name, sql in sorted(sqls.items()):
           |    # count-wrap: the Spark leg consumes every query via
           |    # .count(), so the baseline must not additionally pay
           |    # output-proportional row materialization (fetchall) —
           |    # and must get the same prune-under-count opportunity —
           |    # or the ratio is asymmetric exactly where output grows
           |    # super-linearly (interval_join's distinct pairs)
           |    con.execute("SELECT count(*) FROM (" + sql + ")").fetchall()
           |print("ORACLE_WALL=%.3f" % (time.time() - t0))
           |""".stripMargin
      val pb = new ProcessBuilder("python3", "-c", script)
      pb.redirectErrorStream(true)
      val proc = pb.start()
      val out = new String(proc.getInputStream.readAllBytes())
      // the oracle suite has grown past 600s at sf0.1 (the stage-unrolled
      // ANN/BPE replays are DuckDB-expensive); cap generously — a hung
      // python still can't wedge the bench
      val done = proc.waitFor(2400, java.util.concurrent.TimeUnit.SECONDS)
      if (!done) { proc.destroyForcibly(); None }
      else "ORACLE_WALL=([0-9.]+)".r.findFirstMatchIn(out).map(_.group(1).toDouble)
    } catch { case _: Throwable => None }
}
