package graft

import java.nio.file.{Files, Paths}
import scala.sys.process._
import org.scalatest.funsuite.AnyFunSuite

/** The `d_dedup_minhash_lsh` oracle finds its pairs through an inverted
  * index on shingles. This suite checks it against the brute-force
  * all-pairs form it replaced, kept here as the reference: both run
  * through DuckDB over the sf0.01 documents and must return the same
  * rows. Like [[OracleTypeLintSpec]] it shells out to python3+duckdb and
  * cancels where that interpreter or the fixture is absent.
  */
class MinhashOracleSpec extends AnyFunSuite {
  /** The sf0.01 fixture, beside the battery's own sf0.001 one. */
  private val sf = Paths.get(SparkTestSession.sf).resolveSibling("sf0.01").toString

  /** Exact jaccard of every pair of documents, as list_intersect over
    * their distinct 3-shingle lists: O(n^2) pairs. */
  private val bruteForce =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |s AS (SELECT doc_id, list_distinct(
      |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w)-1)]) AS sh
      |  FROM d),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS i,
      |    CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS BIGINT) AS u
      |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, (2000000 * i + u) // (2 * u) AS jaccard_u
      |FROM p WHERE (2000000 * i + u) // (2 * u) >= 800000
      |ORDER BY doc_a, doc_b""".stripMargin

  private val script =
    """import duckdb, sys
      |docs, brute, oracle = sys.argv[1], open(sys.argv[2]).read(), open(sys.argv[3]).read()
      |con = duckdb.connect()
      |con.execute("SET threads = 4")
      |con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs}'")
      |a = con.execute(brute).fetchall()
      |b = con.execute(oracle).fetchall()
      |print(len(a), len(b), a == b)
      |""".stripMargin

  private def haveDuckdb: Boolean =
    try Process(Seq("python3", "-c", "import duckdb")).!(ProcessLogger(_ => ())) == 0
    catch { case _: Throwable => false }

  test("the inverted-index minhash oracle returns the brute-force rows at sf0.01") {
    assume(haveDuckdb, "python3+duckdb not available")
    assume(Files.exists(Paths.get(s"$sf/documents.parquet")), s"$sf missing")
    val dir = Files.createTempDirectory("minhash_oracle")
    val brute = Files.writeString(dir.resolve("brute.sql"), bruteForce)
    val oracle = Files.writeString(dir.resolve("oracle.sql"),
      SparkEntry.oracleSql("d_dedup_minhash_lsh"))
    val out = new StringBuilder
    val code = Process(Seq("python3", "-c", script, s"$sf/documents.parquet",
        brute.toString, oracle.toString))
      .!(ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n')))
    assert(code == 0, out.toString)
    val Array(na, nb, same) = out.toString.trim.linesIterator.toSeq.last.split(" ")
    assert(na.toInt > 0, s"brute force found no pairs:\n$out")
    assert(na == nb && same == "True", s"brute force vs oracle:\n$out")
  }
}
