package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named batch query + optional DuckDB oracle, contributed by a module.
  * SparkEntry concatenates all packs into the driver contract maps.
  */
trait QueryPack {
  def queries: Map[String, (SparkSession, String) => DataFrame]

  /** DuckDB-runnable SQL per query name; queries absent here get the
    * driver's weaker rows-only check.
    */
  def oracles: Map[String, String]
}

/** Fixture staging for the wire-decode queries: their production input is
  * STORED bytes (a WAL / changelog the source landed once), so a decode
  * benched over a per-scan re-rendered fixture times the renderer — twice,
  * when the operator legitimately scans its input more than once (the
  * test_decoding commit-timestamp pass) — instead of the operator. Landing
  * the synthesized fixture in parquet once and decoding from storage is
  * the same one-time-layout / recurring-read split `Layout.stageBucketed`
  * models for the bucketed join.
  *
  * Staging is PER-JVM (a fresh temp dir per process, removed on exit), not
  * warehouse-persisted: every bench invocation pays the one-time render
  * itself — its first timed pass lands the fixture, later passes read
  * storage — so no output or intermediate keyed on the test data survives
  * across runs. (The previous warehouse-persisted form let a cold run read
  * a fixture staged by an earlier one: precomputation across runs, which
  * the bench protocol forbids, and asymmetric against the DuckDB wall leg,
  * which re-renders inline per query.)
  */
object FixtureStaging {

  /** Per-JVM scratch root for fixture DATABASES too (the embedded-Derby
    * change tables the streaming queries tail) — same
    * no-cross-run-persistence policy as the parquet staging: within one
    * run the staged log is the external database the stream would tail,
    * across runs nothing survives.
    */
  def jvmScratch: String = stagingRoot.getAbsolutePath

  /** The per-process staging root; removed on JVM exit. */
  private lazy val stagingRoot: java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory("graft_fixture_stage_").toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
        f.delete(): Unit
      }
      rm(dir)
    }))
    dir
  }

  /** (name, length, mtime) digest of the source dir's files — regenerating
    * testdata at the SAME path must invalidate fixtures derived from it;
    * the plan hash alone cannot see data content.
    */
  private def sourceFingerprint(dir: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir)).sortBy(_.getPath)
      .map(f => s"${f.getPath}:${f.length}:${f.lastModified}").mkString("|")
  }

  /** Materialize `mk` once under the per-JVM staging root and return the
    * stored frame. The path is keyed by `salt` (the source dir — relation
    * toString does NOT print file paths, so the plan alone cannot
    * distinguish scale factors), a fingerprint of the source dir's file
    * lengths/mtimes (regenerated data at the same path must not serve a
    * stale fixture), and a hash of the fixture's CANONICAL plan (exprIds
    * normalized away), so any change to the synthesis lands a fresh
    * fixture rather than serving a stale one. The write lands in a temp
    * dir and renames into place, so concurrent stagings of the same key
    * cannot serve a half-written dir; the loser of the rename race reads
    * the winner's copy.
    */
  def stageOnce(s: SparkSession, salt: String, mk: => DataFrame): DataFrame = {
    val df = mk
    // NUL cannot occur in a path or in the fingerprint, whose entries are
    // '|'-separated, so the three segments cannot run into each other
    val planKey = salt + "\u0000" + sourceFingerprint(salt) + "\u0000" +
      df.queryExecution.logical.canonicalized.toString.replaceAll("#\\d+", "#")
    val key = java.security.MessageDigest.getInstance("SHA-256")
      .digest(planKey.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    val root = stagingRoot.getAbsolutePath
    val path = new org.apache.hadoop.fs.Path(root, s"graft_fixture_$key")
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    // _SUCCESS is the completion marker: a killed half-written staging dir
    // must be rewritten, not served
    if (!fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS"))) {
      val tmp = new org.apache.hadoop.fs.Path(root,
        s"graft_fixture_tmp_${key}_${java.util.UUID.randomUUID().toString.take(8)}")
      df.write.mode("overwrite").parquet(tmp.toString)
      // exists-check first: local-FS rename onto an existing dir can fall
      // back to copying INTO it (nesting), never overwrite-replace
      if (fs.exists(path) || !fs.rename(tmp, path)) fs.delete(tmp, true) // lost the race: read the winner
    }
    s.read.parquet(path.toString)
  }
}

/** Per-session fixture-frame cache for the envelope-synthesis paths,
  * WEAKLY keyed by the SparkSession: when a session is stopped and
  * released, its entry — and the localCheckpoint-pinned blocks its cached
  * frames hold — becomes collectable (Spark's ContextCleaner unpersists
  * the checkpoint RDDs of collected DataFrames) instead of leaking for the
  * JVM's lifetime across sessions (the multi-suite test JVM is exactly
  * that shape). Values are SoftReferences because a cached frame strongly
  * references its own session: a strong value would resurrect the weak key
  * through the value chain and never collect; a soft value keeps the cache
  * warm until memory pressure and recomputes (a fresh checkpoint) if the
  * JVM ever clears it.
  */
object SessionCache {
  /** One key's slot: its lock serializes renders of THAT key only, so
    * distinct keys render concurrently while each renders once (again only
    * if the JVM cleared the soft value).
    */
  private final class Slot {
    private var ref: java.lang.ref.SoftReference[DataFrame] = null
    def get(mk: => DataFrame): DataFrame = synchronized {
      Option(ref).flatMap(r => Option(r.get())).getOrElse {
        val df = mk
        ref = new java.lang.ref.SoftReference(df)
        df
      }
    }
  }

  private val caches = new java.util.WeakHashMap[
    SparkSession, java.util.concurrent.ConcurrentHashMap[String, Slot]]()

  def getOrCompute(s: SparkSession, key: String)(mk: => DataFrame): DataFrame = {
    val m = caches.synchronized {
      var c = caches.get(s)
      if (c == null) {
        c = new java.util.concurrent.ConcurrentHashMap[String, Slot]()
        caches.put(s, c)
      }
      c
    }
    m.computeIfAbsent(key, _ => new Slot).get(mk)
  }
}
