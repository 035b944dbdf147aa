package graft.runner

import graft.SparkSpecBase
import graft.runner.plugins.JdbcWritePlugin
import org.apache.spark.sql.functions._

/** Pins the DuckDB bulk-write path's append semantics (ADVICE r8):
  * name-resolved column insertion, and the empty-DataFrame staging
  * guard (zero part files must not blow up read_parquet or nuke the
  * table).
  */
class JdbcDuckSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmpDb(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_duck_spec")
    d.resolve("t.duckdb").toString
  }

  private def readBack(db: String, table: String) =
      graft.sources.DuckGate.withDuck {
    val con = java.sql.DriverManager.getConnection(s"jdbc:duckdb:$db")
    try {
      val rs = con.createStatement().executeQuery(
        s"SELECT id, name, score FROM $table ORDER BY id")
      val buf = scala.collection.mutable.ArrayBuffer[(Long, String, Double)]()
      while (rs.next()) buf += ((rs.getLong(1), rs.getString(2),
        rs.getDouble(3)))
      buf.toSeq
    } finally con.close()
  }

  test("append resolves columns BY NAME, not position") {
    val db = tmpDb()
    val url = s"jdbc:duckdb:$db"
    val base = Seq((1L, "alpha", 10.0)).toDF("id", "name", "score")
    assert(JdbcWritePlugin.writeDf(base, url, "t", "overwrite") == 1L)
    // append a frame with a DIFFERENT column order: positional insert
    // would write score into name (or fail on types); by-name must not
    val reordered = Seq((99.0, "beta", 2L)).toDF("score", "name", "id")
    assert(JdbcWritePlugin.writeDf(reordered, url, "t", "append") == 1L)
    assert(readBack(db, "t") ==
      Seq((1L, "alpha", 10.0), (2L, "beta", 99.0)))
  }

  test("empty DataFrame append stages zero part files and is a no-op " +
      "on existing rows") {
    val db = tmpDb()
    val url = s"jdbc:duckdb:$db"
    val base = Seq((1L, "alpha", 10.0)).toDF("id", "name", "score")
    JdbcWritePlugin.writeDf(base, url, "t", "overwrite")
    // a filter matching nothing: AQE's empty-relation path writes no
    // parquet parts — the write must neither throw nor drop rows
    val empty = base.filter(col("id") < 0L)
    assert(JdbcWritePlugin.writeDf(empty, url, "t", "append") == 0L)
    assert(readBack(db, "t") == Seq((1L, "alpha", 10.0)))
  }

  test("empty DataFrame overwrite creates the table from the schema") {
    val db = tmpDb()
    val url = s"jdbc:duckdb:$db"
    val empty = Seq((1L, "x", 1.0)).toDF("id", "name", "score")
      .filter(col("id") < 0L)
    assert(JdbcWritePlugin.writeDf(empty, url, "t", "overwrite") == 0L)
    assert(readBack(db, "t").isEmpty)
  }

  test("upsert fails, and keeps the table's rows, when the existing " +
      "table cannot be read") {
    val db = tmpDb()
    val url = s"jdbc:duckdb:$db"
    graft.sources.DuckGate.withDuck {
      val con = java.sql.DriverManager.getConnection(url)
      try {
        val st = con.createStatement()
        // Spark's JDBC reader has no type for a DuckDB MAP column
        st.execute("CREATE TABLE t (id BIGINT, name VARCHAR, " +
          "score DOUBLE, tags MAP(VARCHAR, INTEGER))")
        st.execute("INSERT INTO t VALUES (1, 'alpha', 10.0, MAP {'a': 1}), " +
          "(2, 'beta', 20.0, MAP {'b': 2})")
      } finally con.close()
    }
    val incoming = Seq((2L, "beta", 99.0)).toDF("id", "name", "score")
    intercept[Exception](
      JdbcWritePlugin.writeDf(incoming, url, "t", "upsert", Seq("id")))
    assert(readBack(db, "t") == Seq((1L, "alpha", 10.0), (2L, "beta", 20.0)))
  }
}
