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

  /** A driver ahead of DuckDB's for `jdbc:duckdb:` URLs that hands out
    * the same connections, but keeps every statement they create until
    * it is closed. */
  private final class StatementTracker(duck: java.sql.Driver)
      extends java.sql.Driver {
    val open = java.util.concurrent.ConcurrentHashMap.newKeySet[AnyRef]()
    private def delegate[T](iface: Class[T], target: AnyRef)(
        onCall: (String, AnyRef) => AnyRef): T =
      java.lang.reflect.Proxy.newProxyInstance(getClass.getClassLoader,
        Array[Class[_]](iface), (_, m, a) => {
          val result =
            try m.invoke(target, Option(a).getOrElse(Array.empty[AnyRef]): _*)
            catch { case e: java.lang.reflect.InvocationTargetException =>
              throw e.getCause }
          onCall(m.getName, result)
        }).asInstanceOf[T]
    def connect(url: String, info: java.util.Properties): java.sql.Connection =
      if (!acceptsURL(url)) null
      else delegate(classOf[java.sql.Connection], duck.connect(url, info)) {
        case ("createStatement", st: java.sql.Statement) =>
          open.add(st)
          delegate(classOf[java.sql.Statement], st) { (name, r) =>
            if (name == "close") open.remove(st)
            r
          }
        case (_, r) => r
      }
    def acceptsURL(url: String): Boolean = url.startsWith("jdbc:duckdb:")
    def getPropertyInfo(url: String, info: java.util.Properties) =
      duck.getPropertyInfo(url, info)
    def getMajorVersion: Int = duck.getMajorVersion
    def getMinorVersion: Int = duck.getMinorVersion
    def jdbcCompliant: Boolean = false
    def getParentLogger = throw new java.sql.SQLFeatureNotSupportedException
  }

  test("writeDf closes every statement it opens, in every mode") {
    import scala.jdk.CollectionConverters._
    import java.sql.DriverManager
    graft.sources.DuckDbDialect.ensureRegistered()
    val duck = DriverManager.getDrivers.asScala
      .find(_.getClass.getName == "org.duckdb.DuckDBDriver").get
    val tracker = new StatementTracker(duck)
    // DriverManager asks drivers in registration order: put the tracker
    // first; Spark's own JDBC reads still find DuckDB's driver by class
    DriverManager.deregisterDriver(duck)
    DriverManager.registerDriver(tracker)
    DriverManager.registerDriver(duck)
    val db = tmpDb()
    val url = s"jdbc:duckdb:$db"
    // DuckDB refuses a connection with a different configuration while
    // another instance of the same file is alive in this JVM
    def reopenReadOnly(): Long = graft.sources.DuckGate.withDuck {
      val props = new java.util.Properties()
      props.setProperty("duckdb.read_only", "true")
      val con = duck.connect(url, props)
      try {
        val st = con.createStatement()
        try {
          val rs = st.executeQuery("SELECT COUNT(*) FROM t")
          try { rs.next(); rs.getLong(1) } finally rs.close()
        } finally st.close()
      } finally con.close()
    }
    try {
      val rows = Seq((1L, "alpha", 10.0), (2L, "beta", 20.0))
        .toDF("id", "name", "score")
      Seq("overwrite" -> 2L, "append" -> 4L, "upsert" -> 2L).foreach {
        case (mode, n) =>
          JdbcWritePlugin.writeDf(rows, url, "t", mode, Seq("id"))
          assert(tracker.open.isEmpty,
            s"$mode left ${tracker.open.size} statement(s) open")
          assert(reopenReadOnly() == n, mode)
      }
    } finally DriverManager.deregisterDriver(tracker)
  }
}
