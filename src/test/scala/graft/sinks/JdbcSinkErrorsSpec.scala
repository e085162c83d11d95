package graft.sinks

import java.sql.SQLException

import org.scalatest.funsuite.AnyFunSuite

/** The three SQL error classifiers of [[JdbcSink]] over constructed cause
  * chains: every SQLState and vendor code each one documents, found at the
  * top of the chain and three deep, and nothing else.
  */
class JdbcSinkErrorsSpec extends AnyFunSuite {

  private def state(s: String) = new SQLException("x", s)
  private def vendor(code: Int) = new SQLException("x", "HY000", code)

  /** `target` as the top of the chain (depth 1) and under two wrappers
    * (depth 3): a SQLException with a generic state, then a non-SQL
    * exception, as a driver or a connection pool wraps its errors.
    */
  private def depths(target: SQLException): Seq[SQLException] =
    Seq(target, new SQLException("wrapped", "HY000", new RuntimeException("pool", target)))

  private val retriable =
    Seq("40001", "40XL1", "40XL2", "23505").map(state) :+ vendor(60)
  private val indexExists =
    Seq("X0Y32", "42S11", "42S01").map(state) :+ vendor(955)
  private val missingTable =
    Seq("42S02", "42P01", "42X05").map(state) :+ vendor(942)
  private val unrelated = Seq(state("22001"), state("08006"), vendor(1), new SQLException("no state"))

  private def check(name: String, classifier: SQLException => Boolean, matches: Seq[SQLException]): Unit = {
    val others = (retriable ++ indexExists ++ missingTable ++ unrelated).filterNot(matches.contains)
    for (e <- matches; (chain, depth) <- depths(e).zip(Seq(1, 3)))
      assert(classifier(chain), s"$name misses state ${e.getSQLState} / code ${e.getErrorCode} at depth $depth")
    for (e <- others; (chain, depth) <- depths(e).zip(Seq(1, 3)))
      assert(!classifier(chain), s"$name matches state ${e.getSQLState} / code ${e.getErrorCode} at depth $depth")
  }

  test("isRetriableWrite: deadlock, Derby lock timeouts, unique-key violation, ORA-00060") {
    check("isRetriableWrite", JdbcSink.isRetriableWrite, retriable)
  }

  test("isIndexAlreadyExists: X0Y32, 42S11, 42S01, ORA-00955") {
    check("isIndexAlreadyExists", JdbcSink.isIndexAlreadyExists, indexExists)
  }

  test("isMissingTable: 42S02, 42P01, 42X05, ORA-00942, and the message of a wrapped analysis error") {
    check("isMissingTable", JdbcSink.isMissingTable(_), missingTable)
    val analysis = new IllegalStateException("Table or view not found: db.t")
    assert(JdbcSink.isMissingTable(new RuntimeException("run", new RuntimeException("plan", analysis))))
    assert(!JdbcSink.isMissingTable(new RuntimeException("disk full")))
  }

  test("a cyclic cause chain ends the walk instead of looping") {
    val a = new SQLException("a", "HY000")
    val b = new RuntimeException("b", a)
    a.initCause(b)
    assert(!JdbcSink.isRetriableWrite(a))
    assert(!JdbcSink.isIndexAlreadyExists(a))
    assert(!JdbcSink.isMissingTable(a))
  }
}
