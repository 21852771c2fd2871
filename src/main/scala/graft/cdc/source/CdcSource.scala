package graft.cdc.source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc.model.Changelog
import graft.cdc.offsets.BinlogOffsets

/** M5 — the connector facade: an options-validated builder that plays the
  * role of the reference's `MySqlTableSourceFactory` /
  * `MySqlSource.builder()` (MySqlTableSourceFactory.java:80-150, startup
  * modes :196-268, validations :270-345; MySqlSource.java:75-117).
  *
  * `CdcSource.read(spark).option(...).load(sfDir)` yields the changelog
  * DataFrame with the requested startup filtering and metadata applied —
  * the same surface a user of the reference's SQL `WITH ('connector' =
  * 'mysql-cdc', ...)` table gets, minus a live database.
  */
object CdcSource {

  /** Startup modes (MySqlTableSourceFactory.java:196-200). */
  object StartupMode {
    val Initial = "initial"
    val Earliest = "earliest-offset"
    val Latest = "latest-offset"
    val SpecificOffset = "specific-offset"
    val Timestamp = "timestamp"
    val all: Seq[String] = Seq(Initial, Earliest, Latest, SpecificOffset, Timestamp)
  }

  final class ValidationException(msg: String, cause: Throwable = null)
      extends IllegalArgumentException(msg, cause)

  /** Table names taken from caller options are interpolated into SQL text
    * (change-table scans, sink upserts); a strict identifier grammar closes
    * the injection / syntax-breakage surface the way the reference quotes
    * identifiers before statement assembly (StatementUtils.quote).
    */
  def validIdentifier(name: String): String = {
    if (name == null || !name.matches("[A-Za-z_][A-Za-z0-9_]*"))
      throw new ValidationException(
        s"Invalid SQL identifier '$name': must match [A-Za-z_][A-Za-z0-9_]*")
    name
  }

  def read(spark: SparkSession): Builder = new Builder(spark)

  final class Builder(spark: SparkSession) {
    private var opts = Map.empty[String, String]

    def option(key: String, value: String): Builder = { opts += key -> value; this }
    def option(key: String, value: Long): Builder = option(key, value.toString)

    /** Parse a numeric option value, converting parse failures into the
      * facade's ValidationException rather than a raw NumberFormatException.
      */
    private def numeric[T](key: String, value: String, parse: String => T): T =
      try parse(value)
      catch {
        case e: NumberFormatException =>
          throw new ValidationException(
            s"The value of option '$key' is not a valid number: '$value'", e)
      }

    private def intOption(key: String, default: Int, exclusiveMin: Int): Int = {
      val v = opts.get(key).map(numeric(key, _, _.toInt)).getOrElse(default)
      if (v <= exclusiveMin)
        throw new ValidationException(
          s"The value of option '$key' must larger than $exclusiveMin, but is $v")
      v
    }

    /** Mirrors the reference's validation set: regex syntax for table
      * filters, positive chunk/fetch sizes, distribution-factor bounds,
      * startup-mode algebra incl. the specific-offset requirement.
      */
    private def validateOptions(): Unit = {
      // regex validation (MySqlTableSourceFactory.java:312-321)
      for (key <- Seq("database-name", "table-name"); re <- opts.get(key))
        try java.util.regex.Pattern.compile(re)
        catch {
          case e: Exception =>
            throw new ValidationException(
              s"The $key '$re' is not a valid regular expression", e)
        }

      // integer options (:296-303)
      intOption("scan.incremental.snapshot.chunk.size", 8096, 1)
      intOption("scan.snapshot.fetch.size", 1024, 1)
      intOption("connection.pool.size", 20, 0)
      intOption("connect.max-retries", 3, 0)

      // distribution factor bounds (:323-345)
      val upper = opts.get("chunk-key.even-distribution.factor.upper-bound")
        .map(numeric("chunk-key.even-distribution.factor.upper-bound", _, _.toDouble))
        .getOrElse(1000.0)
      if (upper < 1.0)
        throw new ValidationException(
          "The value of option 'chunk-key.even-distribution.factor.upper-bound' " +
            s"must larger than or equals 1.0, but is $upper")
      val lower = opts.get("chunk-key.even-distribution.factor.lower-bound")
        .map(numeric("chunk-key.even-distribution.factor.lower-bound", _, _.toDouble))
        .getOrElse(0.05)
      if (lower < 0.0 || lower > 1.0)
        throw new ValidationException(
          "The value of option 'chunk-key.even-distribution.factor.lower-bound' " +
            s"must between 0.0 and 1.0 inclusively, but is $lower")
    }

    def load(sfDir: String): DataFrame = {
      validateOptions()
      // table-include filter (P7) over the synthetic shard routing — applied
      // to BOTH the log side and (in initial mode) the snapshot side, like
      // the reference's capture list governs both phases
      val tableFilter: DataFrame => DataFrame = opts.get("table-name") match {
        case Some(re) =>
          df => df.where(graft.cdc.merge.ChangelogOps.tableNameCol
            .rlike(Discovery.anchored(re)))
        case None => identity
      }
      val cl = tableFilter(Changelog.changelog(spark, sfDir))
      applyStartupMode(cl, initial = Some(() =>
        tableFilter(Changelog.snapshot(spark, sfDir))
          .unionByName(cl.where(col("op") =!= Changelog.OpRead))))
    }

    /** Streaming face of the facade: the same option validation and startup
      * algebra over `readStream` (§3.1's streaming path). `initial` mode is
      * a batch snapshot + stream handover, not a pure stream — directed to
      * [[graft.cdc.streaming.StreamingOps.upsertMaterializeStreamFrom]].
      */
    def loadStream(sfDir: String): DataFrame = {
      validateOptions()
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      val sch = spark.read.parquet(s"$sfDir/events.parquet").schema
      val raw = spark.readStream.schema(sch)
        .option("pathGlobFilter", "events.parquet").parquet(sfDir)
      // same ts canonicalization as the batch face (nanos vs micros parquet
      // generations); a stateless projection, so streaming-safe
      val cl0 = graft.cdc.streaming.StreamingOps.changelogStream(
        Changelog.normalizeEventTs(raw).withColumn("ts_ms", expr("ts div 1000000")))
      val cl = opts.get("table-name") match {
        case Some(re) => cl0.where(graft.cdc.merge.ChangelogOps.tableNameCol
          .rlike(Discovery.anchored(re)))
        case None => cl0
      }
      applyStartupMode(cl, initial = None)
    }

    /** JDBC snapshot face of the facade — the reference's actual snapshot
      * execution path (JdbcSourceChunkSplitter probes + per-chunk
      * `SELECT ... WHERE key range` scans with a pooled connection and
      * fetchsize, StatementUtils.java:132-188, MySqlSourceOptions
      * .java:111-133): plan chunk ranges with the probe splitter, then hand
      * them to `spark.read.jdbc(url, table, predicates, props)` — one JDBC
      * connection per predicate, each executor pulling its own pushed-down
      * key range, no coordinator in the data path. The validated
      * `scan.snapshot.fetch.size` becomes the JDBC fetchsize;
      * `connection.pool.size` caps Spark-side parallelism the way the
      * reference's pool caps concurrent connections (numPartitions =
      * min(chunks, pool size); Spark's JDBC source runs at most that many
      * concurrent scans).
      */
    /** Attach-time contract validation — the analog of the reference's
      * server-precondition probe (MySqlValidator.java:43-110 checks
      * version / binlog_format=ROW / row image FULL before starting; our
      * synthetic change table's contract is op-domain and SEQ uniqueness,
      * plus OPTIONALLY ts monotonicity along SEQ — opt-in via
      * 'scan.attach.validate.ts-monotonic' because TS_MS is monotone only
      * when it carries the LOG clock (binlog commit order); sources whose
      * ts column is payload EVENT time are legitimately out of order
      * (that is what watermarks are for). One bounded probe: the most
      * recent `sample` rows by SEQ (index-backed ORDER BY DESC), so attach
      * cost is O(sample) regardless of log size. Violations raise
      * [[ValidationException]] naming the offending SEQ — before any
      * stream state is created, like the reference failing fast at start.
      */
    private[source] def validateChangeTable(
        url: String, dbtable: String, sample: Int,
        checkTsMonotonic: Boolean = false): Unit = {
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val st = conn.createStatement()
        try {
          val rs = try st.executeQuery(
            s"SELECT SEQ, OP, TS_MS FROM ${validIdentifier(dbtable)} " +
              s"ORDER BY SEQ DESC FETCH FIRST $sample ROWS ONLY")
          catch {
            case e: java.sql.SQLException =>
              throw new ValidationException(
                s"Change table $dbtable is not attachable: ${e.getMessage} — " +
                  "the table must exist with (SEQ, OP, TS_MS) columns before " +
                  "the stream starts", e)
          }
          val rows = Iterator.continually(rs)
            .takeWhile(_.next())
            .map(r => (r.getLong(1), r.getString(2), r.getLong(3)))
            .toVector.reverse // ascending SEQ
          val validOps = Set("c", "u", "d", "r")
          for ((seq, op, _) <- rows if !validOps.contains(op))
            throw new ValidationException(
              s"Change table $dbtable violates the op-domain contract at " +
                s"SEQ=$seq: op '$op' not in {c, u, d, r} — is this a " +
                "change table? (reference analog: binlog_format must be ROW)")
          for (Seq((s1, _, t1), (s2, _, t2)) <- rows.sliding(2)) {
            if (s2 == s1)
              throw new ValidationException(
                s"Change table $dbtable has duplicate SEQ=$s1 — the log " +
                  "position must be unique")
            if (checkTsMonotonic && t2 < t1)
              throw new ValidationException(
                s"Change table $dbtable violates log-clock monotonicity: " +
                  s"TS_MS drops from $t1 (SEQ=$s1) to $t2 (SEQ=$s2) — " +
                  "with scan.attach.validate.ts-monotonic the ts column " +
                  "must carry the monotone log clock")
          }
        } finally st.close()
      } finally conn.close()
    }

    def loadJdbc(url: String, tableName: String, key: String): DataFrame = {
      validateOptions()
      // attach-time precondition: the chunk key must be null-free (the
      // reference requires a usable chunk/split key before snapshotting;
      // a null key would silently fall out of every range predicate). One
      // pushed probe, index-satisfiable when the key is indexed.
      if (opts.getOrElse("scan.attach.validate", "true").toBoolean) {
        val conn = java.sql.DriverManager.getConnection(url)
        try {
          val st = conn.createStatement()
          try {
            val rs = st.executeQuery(
              s"SELECT 1 FROM ${validIdentifier(tableName)} WHERE " +
                s"${validIdentifier(key)} IS NULL FETCH FIRST 1 ROWS ONLY")
            if (rs.next())
              throw new ValidationException(
                s"Chunk key '$key' of $tableName contains NULLs — a null " +
                  "key falls outside every chunk range; choose a null-free " +
                  "(ideally unique) key column")
          } finally st.close()
        } finally conn.close()
      }
      val props = new java.util.Properties()
      props.setProperty("fetchsize",
        intOption("scan.snapshot.fetch.size", 1024, 1).toString)
      val chunkSize = intOption("scan.incremental.snapshot.chunk.size", 8096, 1)
      // probes run as pushed-down SQL in the database — ONE row back per
      // probe (the reference's StatementUtils cost), not a Spark job over a
      // V1 JDBC frame that can't push ORDER BY/LIMIT
      val ranges = graft.cdc.split.ChunkPlanner
        .unevenChunkRangesJdbc(url, tableName, key, chunkSize)
      // the planner's chunks are (start, end]; render them as such so each
      // partition holds exactly its planned chunk's keys
      val preds = graft.cdc.split.KeyedChunkPlanner.jdbcPredicates(Seq(key),
        ranges.map { case (lo, hi) => (lo.map(Seq(_)), hi.map(Seq(_))) })
      val pool = intOption("connection.pool.size", 20, 0)
      val df = spark.read.jdbc(url, tableName, preds, props)
      // pool cap: coalesce chunk partitions so at most `pool` concurrent
      // JDBC connections are open, like the reference's connection pool
      if (preds.length > pool) df.coalesce(pool) else df
    }

    /** DataSourceV2 streaming face of the facade: a REAL `MicroBatchStream`
      * tailing a mutating JDBC change table (see [[CdcMicroBatch]]) — the
      * reference's enumerator/reader architecture, not a file glob. The
      * builder translates the startup-mode algebra into the stream's
      * exclusive starting sequence:
      *
      *   - earliest-offset  -> read the whole retained log (default)
      *   - specific-offset  -> file/pos mapped back through the synthetic
      *     binlog layout ([[BinlogOffsets.withFilePos]]'s inverse), or a
      *     direct `starting-seq`
      *   - timestamp        -> one in-database probe for the first SEQ at or
      *     after the timestamp (the reference's seek-to-timestamp latch, P10)
      *   - latest-offset    -> one probe for the current log end
      *   - initial          -> run the batch snapshot via load()/loadJdbc and
      *     seed StreamingOps.upsertMaterializeStreamFrom, then stream from
      *     earliest/specific — same handover contract as loadStream
      */
    def loadMicroBatch(url: String, dbtable: String = "GRAFT_CHANGELOG"): DataFrame = {
      validateOptions()
      validIdentifier(dbtable)
      val mode = opts.getOrElse("scan.startup.mode", StartupMode.Earliest).toLowerCase
      // startup probes share ONE connection, opened lazily (earliest mode
      // probes nothing) and closed before the stream starts — the stream's
      // own enumerator keeps its own cached probe connection
      var startupConn: java.sql.Connection = null
      def probe(sql: String): Option[Long] = {
        if (startupConn == null)
          startupConn = java.sql.DriverManager.getConnection(url)
        val st = startupConn.createStatement()
        try {
          val rs = st.executeQuery(sql)
          rs.next()
          val v = rs.getLong(1)
          if (rs.wasNull()) None else Some(v)
        } finally st.close()
      }
      val startingSeq: Option[Long] = try mode match {
        case StartupMode.Earliest => None
        case StartupMode.Latest => probe(s"SELECT MAX(SEQ) FROM $dbtable")
        case StartupMode.Timestamp =>
          val ts = opts.getOrElse("scan.startup.timestamp-millis",
            throw new ValidationException(
              "'scan.startup.timestamp-millis' is required in timestamp startup mode"))
          // first event at/after ts starts the stream -> exclusive start is
          // one before it; empty probe (ts beyond log end) -> start at end
          probe(s"SELECT MIN(SEQ) - 1 FROM $dbtable WHERE TS_MS >= " +
              numeric("scan.startup.timestamp-millis", ts, _.toLong))
            .orElse(probe(s"SELECT MAX(SEQ) FROM $dbtable"))
        case StartupMode.SpecificOffset =>
          (opts.get("scan.startup.specific-offset.gtid-set"),
            opts.get("scan.startup.specific-offset.file"),
            opts.get("scan.startup.specific-offset.pos")) match {
            case (Some(g), _, _) =>
              // GTID-set start wins over file/pos (the reference's priority,
              // MySqlTableSourceFactory.java:196-268): resolve the covered
              // prefix to the exclusive starting sequence; a set covering
              // nothing starts from earliest
              BinlogOffsets.gtidStartingSeq(g)
            case (None, Some(f), Some(p)) =>
              // invert the synthetic binlog layout (BinlogOffsets.withFilePos):
              // seq = fileNum * EventsPerFile + (pos - 4) / 4
              val fileNum = f.stripPrefix("mysql-bin.").toLong
              val pos = numeric("scan.startup.specific-offset.pos", p, _.toLong)
              Some(fileNum * BinlogOffsets.EventsPerFile + (pos - 4) / 4)
            case _ =>
              Some(opts.getOrElse("starting-seq",
                throw new ValidationException(
                  "specific-offset startup over the micro-batch stream needs " +
                    "scan.startup.specific-offset.gtid-set, " +
                    "scan.startup.specific-offset.file/pos or starting-seq")).toLong)
          }
        case StartupMode.Initial =>
          throw new ValidationException(
            "'initial' startup mode needs the batch snapshot phase — run the " +
              "snapshot with load()/loadJdbc and hand its state to " +
              "StreamingOps.upsertMaterializeStreamFrom, then loadMicroBatch " +
              "from 'earliest-offset'")
        case other =>
          throw new ValidationException(
            s"Invalid value for option 'scan.startup.mode'. Supported values are " +
              s"[${StartupMode.all.mkString(", ")}], but was: $other")
      } finally {
        if (startupConn != null)
          try startupConn.close() catch { case _: Throwable => () }
      }
      // attach-time contract probe AFTER the option/startup algebra (option
      // errors must surface first), BEFORE any stream state exists
      if (opts.getOrElse("scan.attach.validate", "true").toBoolean)
        validateChangeTable(url, dbtable,
          intOption("scan.attach.validate.sample", 1024, 0),
          opts.getOrElse("scan.attach.validate.ts-monotonic", "false").toBoolean)
      val reader = spark.readStream.format("graft-cdc-stream")
        .option("url", url)
        .option("dbtable", dbtable)
        .options(opts -- Seq("scan.startup.mode", "starting-seq"))
      startingSeq.fold(reader)(s => reader.option("starting-seq", s)).load()
    }

    /** Debezium-topic face of the facade: the same option validation,
      * capture-list filter and startup algebra over a Kafka-SHAPED input —
      * any DataFrame with [[graft.cdc.streaming.KafkaEnvelope.kafkaSchema]]'s
      * columns, batch or streaming. In production that is
      * `spark.readStream.format("kafka").option("subscribe", topic).load()`;
      * in tests an injected MemoryStream. The table filter uses the
      * ENVELOPE's source.table (the reference filters on the captured
      * table's identity, not a derived shard), then drops the metadata
      * column so downstream operators see the plain changelog IR.
      */
    def loadStreamFrom(kafkaShaped: DataFrame): DataFrame = {
      validateOptions()
      val cl0 = graft.cdc.streaming.KafkaEnvelope.decode(kafkaShaped)
      val cl = (opts.get("table-name") match {
        case Some(re) => cl0.where(col("table_name").rlike(Discovery.anchored(re)))
        case None => cl0
      }).drop("table_name")
      applyStartupMode(cl, initial = None)
    }

    private def applyStartupMode(
        cl: DataFrame,
        initial: Option[() => DataFrame]
    ): DataFrame = {
      // startup-mode algebra (:202-232)
      opts.getOrElse("scan.startup.mode", StartupMode.Initial).toLowerCase match {
        case StartupMode.Initial =>
          initial.getOrElse(throw new ValidationException(
            "'initial' startup mode needs the batch snapshot phase — run the " +
              "snapshot with load()/HybridPipeline and hand its state to " +
              "StreamingOps.upsertMaterializeStreamFrom, then stream from " +
              "'earliest-offset'"))()
        case StartupMode.Earliest =>
          cl
        case StartupMode.Latest =>
          cl.where(lit(false)) // bounded batch view: nothing after the end
        case StartupMode.Timestamp =>
          val ts = opts.getOrElse("scan.startup.timestamp-millis",
            throw new ValidationException(
              "'scan.startup.timestamp-millis' is required in timestamp startup mode"))
          cl.where(col("ts_ms") >= numeric("scan.startup.timestamp-millis", ts, _.toLong))
        case StartupMode.SpecificOffset =>
          // gtid-set OR file+pos required (validateSpecificOffset, :234-248)
          val gtid = opts.get("scan.startup.specific-offset.gtid-set")
          val file = opts.get("scan.startup.specific-offset.file")
          val pos = opts.get("scan.startup.specific-offset.pos")
          if (gtid.isEmpty && !(file.isDefined && pos.isDefined))
            throw new ValidationException(
              "Unable to find a valid binlog offset. Either " +
                "scan.startup.specific-offset.gtid-set, or " +
                "scan.startup.specific-offset.file and " +
                "scan.startup.specific-offset.pos are required.")
          gtid match {
            case Some(g) =>
              // GTID-set start wins over file/pos (reference priority,
              // MySqlTableSourceFactory.java:196-268): keep events whose
              // cumulative GTID set is NOT already contained in the given
              // set (native codegen expression — the startup filter stays
              // in whole-stage codegen)
              graft.cdc.types.GraftFunctions.register(spark)
              cl.withColumn("g", concat(lit("s1:1-"), (col("offset") + 1).cast("string")))
                .where(!call_function("graft_gtid_contains", col("g"), lit(g)))
                .drop("g")
            case None =>
              val f = file.get
              val p = numeric("scan.startup.specific-offset.pos", pos.get, _.toLong)
              BinlogOffsets.withFilePos(cl)
                .where(BinlogOffsets.filePosGreater(col("file"), col("pos"), f, p))
                .drop("file", "pos")
          }
        case other =>
          throw new ValidationException(
            s"Invalid value for option 'scan.startup.mode'. Supported values are " +
              s"[${StartupMode.all.mkString(", ")}], but was: $other")
      }
    }
  }
}
