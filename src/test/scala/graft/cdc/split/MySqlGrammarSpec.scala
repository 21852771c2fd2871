package graft.cdc.split

import org.scalatest.funsuite.AnyFunSuite
import graft.cdc.split.ChunkPlanner.{SqlCollation, SqlDialect}

/** Executes the MySQL dialect face against the vendored MySQL grammar
  * (see [[MySqlGrammar]]): every probe/predicate string the planner can
  * emit under `SqlDialect.MySql` must PARSE, across plain, `$`-bearing and
  * backtick-quoted split keys and quote-bearing boundary values — and the
  * ANSI/Postgres faces must be REJECTED by the same parser, proving the
  * grammar is discriminating, not accept-everything. Reference parity
  * target: MySqlConnectorITCase runs these statements on live MySQL; no
  * MySQL engine exists in this sandbox (no mysqld, no H2 jar in the
  * offline cache), so parse-validation against the published grammar is
  * the strongest executable check available here. Feasibility re-checked
  * 2026-08: still no mysqld/mariadbd binary and no MySQL/MariaDB/H2/HSQLDB
  * jar under /opt/spark/jars or the coursier cache.
  */
class MySqlGrammarSpec extends AnyFunSuite {

  private def accepted(sql: String): Unit =
    MySqlGrammar.parse(sql) match {
      case Right(_) => ()
      case Left(e) => fail(s"MySQL grammar rejected an emitted string: $e")
    }
  private def rejected(sql: String): String =
    MySqlGrammar.parse(sql) match {
      case Left(e) => e
      case Right(_) => fail(s"MySQL grammar accepted a non-MySQL string: [$sql]")
    }

  // split keys a live schema can throw at the planner: plain, $-bearing,
  // and backtick-quoted with an embedded (doubled) backtick and a space
  private val keys = Seq("k", "order_key$2", "`od``d key`")
  private val tables = Seq("t", "inventory.products", "`weird table`")

  test("every MySQL-face probe the planner emits parses under the MySQL grammar") {
    for (t <- tables; k <- keys) {
      accepted(ChunkPlanner.maxKeySql(t, k, SqlDialect.MySql))
      accepted(ChunkPlanner.firstBoundarySql(t, k, 50, SqlDialect.MySql))
      accepted(ChunkPlanner.boundaryProbeSql(t, k, 100, SqlDialect.MySql))
      accepted(ChunkPlanner.minMaxSql(t, k))
      accepted(ChunkPlanner.numericBoundaryProbeSql(t, k, 1000, SqlDialect.MySql))
    }
  }

  test("every MySQL-face pushed predicate parses, quote-bearing values included") {
    val ranges = Seq(
      (None, Some("m")), (Some("m"), Some("o'brien")),
      (Some("o'brien"), None), (None, None))
    for (k <- keys) {
      ChunkPlanner.jdbcPredicatesString(k, ranges, SqlCollation.MySqlBinary)
        .foreach(p => accepted(s"SELECT $k FROM t WHERE $p"))
      // and through the parsePredicate face (what spark.read.jdbc embeds)
      ChunkPlanner.jdbcPredicatesString(k, ranges, SqlCollation.MySqlBinary)
        .foreach(p => assert(MySqlGrammar.parsePredicate(p).isRight))
    }
    // numeric predicates share the grammar
    ChunkPlanner.jdbcPredicates("k", Seq((None, Some(5L)), (Some(5L), None)))
      .foreach(p => assert(MySqlGrammar.parsePredicate(p).isRight))
  }

  test("the golden strings pinned in JdbcScanSpec parse verbatim") {
    accepted("SELECT k FROM t WHERE BINARY k > ? ORDER BY BINARY k LIMIT 99, 1")
    accepted("SELECT k FROM t ORDER BY BINARY k DESC LIMIT 1")
    accepted("SELECT k FROM t ORDER BY BINARY k LIMIT 49, 1")
    assert(MySqlGrammar.parsePredicate("BINARY k <= 'm'").isRight)
    assert(MySqlGrammar.parsePredicate("BINARY k > 'm'").isRight)
    assert(MySqlGrammar.parsePredicate("1 = 1").isRight)
  }

  test("negative control: the ANSI/Postgres faces are parse errors in the MySQL grammar") {
    // genuine grammar divergence — MySQL's LIMIT production (§13.2.13) has
    // no OFFSET..ROWS / FETCH alternative, so the ANSI spelling the other
    // dialects execute live (Derby, PostgreSQL 15, DuckDB) must not parse
    rejected(ChunkPlanner.maxKeySql("t", "k", SqlDialect.Ansi))
    rejected(ChunkPlanner.firstBoundarySql("t", "k", 50, SqlDialect.Ansi))
    rejected(ChunkPlanner.boundaryProbeSql("t", "k", 100, SqlDialect.Postgres))
    rejected(ChunkPlanner.maxKeySql("t", "k", SqlDialect.Postgres))
    // the Postgres collation face: under default sql_mode "C" tokenizes as
    // a STRING literal, and MySQL's COLLATE production takes a collation
    // NAME (identifier), so the Postgres spelling stays a parse error even
    // now that the subset implements COLLATE
    rejected("""SELECT k FROM t WHERE k COLLATE "C" > 'm' LIMIT 1""")
    // malformed inputs don't slip through the tokenizer
    rejected("SELECT k FROM t WHERE k > 'unterminated")
    rejected("SELECT k FROM t LIMIT 1, 2, 3")
    rejected("SELECT k FROM (SELECT k FROM t)") // derived table needs alias
  }

  test("COLLATE clause and charset introducers: the productions the planner may emit next") {
    // postfix COLLATE with identifier / backticked / reserved-word names
    accepted("SELECT k FROM t WHERE k COLLATE utf8mb4_bin > 'm' LIMIT 1")
    accepted("SELECT k COLLATE `utf8mb4_0900_as_cs` FROM t ORDER BY BINARY k LIMIT 1")
    accepted("SELECT k FROM t WHERE k COLLATE binary > 'm'")
    assert(MySqlGrammar.parsePredicate("k COLLATE utf8mb4_bin <= 'm'").isRight)
    // charset introducers directly prefixing string / hex / bit literals
    accepted("SELECT k FROM t WHERE k > _binary 'm'")
    accepted("SELECT k FROM t WHERE k > _binary'm'")
    accepted("SELECT k FROM t WHERE k > _binary X'4DFF'")
    accepted("SELECT k FROM t WHERE k > _utf8mb4 'm' AND k <= _latin1 X'00'")
    accepted("SELECT k FROM t WHERE k > 0x1A AND k > B'0101' LIMIT 1")
    // malformed forms stay parse errors
    rejected("SELECT k FROM t WHERE k > _binary k") // introducer needs a literal
    rejected("SELECT k FROM t WHERE k > X'G1'")     // non-hex digit
    rejected("SELECT k FROM t WHERE k > X''")       // empty literal body
    rejected("SELECT k FROM t WHERE k > 0x")        // dangling 0x
    rejected("SELECT k FROM t WHERE k COLLATE 'utf8mb4_bin' > 'm'") // string name
    rejected("SELECT k FROM t WHERE k COLLATE > 'm'")
    // hex/bit literals are expression literals ONLY: §13.2.13's LIMIT
    // production takes an integer constant, so real MySQL rejects these —
    // the subset must not over-accept them as numbers
    rejected("SELECT k FROM t LIMIT X'4D'")
    rejected("SELECT k FROM t LIMIT 0x1A")
    rejected("SELECT k FROM t LIMIT B'01'")
    rejected("SELECT k FROM t LIMIT 1, X'4D'")
    rejected("SELECT k FROM t LIMIT 1.5") // decimal is not an integer constant
  }

  test("tokenizer property: doubled-escape round-trips for identifiers and strings") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // identifier bodies: any printable chars incl. backticks and spaces
    val identBody = Gen.nonEmptyListOf(
      Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('`', ' ', '$', '_', '\'', '"')))
      .map(_.mkString)
    // string bodies: any printable chars incl. both quote kinds
    val strBody = Gen.listOf(
      Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('\'', '"', '`', ' ', ',', '%')))
      .map(_.mkString)
    def qi(s: String) = "`" + s.replace("`", "``") + "`"
    def qs(s: String) = "'" + s.replace("'", "''") + "'"
    val p = Prop.forAll(identBody, strBody) { (id, s) =>
      MySqlGrammar.parse(s"SELECT ${qi(id)} FROM t WHERE ${qi(id)} > ${qs(s)} LIMIT 1").isRight &&
        MySqlGrammar.parsePredicate(s"BINARY ${qi(id)} <= ${qs(s)}").isRight
    } && Prop.forAll(identBody) { id =>
      // unterminated forms (chop the closing quote) must be rejected
      MySqlGrammar.parse(s"SELECT `${id.replace("`", "``")} FROM t").isLeft
    } && Prop.forAll(strBody) { s =>
      MySqlGrammar.parse(s"SELECT k FROM t WHERE k > '${s.replace("'", "''")}").isLeft
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), p)
    assert(r.passed, r.status.toString)
  }
}
