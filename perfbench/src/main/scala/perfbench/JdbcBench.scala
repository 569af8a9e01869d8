package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, DriverManager, SQLException, Statement}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Zh
import graft.operators.ZhEnrich
import graft.sinks.JdbcUpdateSink
import graft.sources.Jdbc

/** `zh_jdbc_writeback`: the reference's native loop against in-memory
  * Derby: discover tables → partitioned read → derive → batched UPDATE
  * write-back → idempotent re-run that must derive nothing. The table is
  * restored from a pristine copy, outside the timed region, before every
  * iteration. */
final class JdbcBench(c: Ctx) extends OneStep {
  val Rows = 60000
  val Table = "OSM_FEATURES"
  /** The pristine copy lives in its own schema, under a name the
    * iteration's discovery skips. */
  val Seed = "BENCHSEED.OSM_SEED"
  private val Columns = "ID BIGINT NOT NULL PRIMARY KEY, NAME VARCHAR(128), " +
    "ZH VARCHAR(128), HANS VARCHAR(128), HANT VARCHAR(128), GEOMETRY VARCHAR(64)"
  private var pools: HanPools = _
  private var url: String = _

  def inputRows: Long = Rows
  override def prime(): Unit = Session.primeZh()
  // Derby's code paths are still compiling after four iterations.
  override def warmupIterations: Int = 8
  private def row(id: Long) = OsmGen.row(pools, OsmGen.WritebackMix, c.seed, id)

  private def withConn[A](f: Connection => A): A = {
    val conn = DriverManager.getConnection(url)
    try f(conn) finally conn.close()
  }
  private def exec(sql: String*): Unit = withConn { conn =>
    val st = conn.createStatement()
    sql.foreach(st.execute)
  }

  def setup(spark: SparkSession, rep: Int): Unit = {
    pools = HanPools.fromIcuRules()
    val previous = url
    url = s"jdbc:derby:memory:perfbench$rep"
    DriverManager.getConnection(url + ";create=true").close()
    exec(s"CREATE TABLE $Table ($Columns)")
    withConn { conn =>
      conn.setAutoCommit(false)
      val ins = conn.prepareStatement(s"INSERT INTO $Table VALUES (?, ?, ?, ?, ?, ?)")
      for (id <- 0L until Rows) {
        val o = row(id)
        ins.setLong(1, id)
        ins.setString(2, o.name)
        ins.setString(3, o.tags.getOrElse(OsmGen.ZhKey, null))
        ins.setString(4, o.tags.getOrElse(OsmGen.HansKey, null))
        ins.setString(5, o.tags.getOrElse(OsmGen.HantKey, null))
        ins.setString(6, o.geometry)
        ins.addBatch()
        if (id % 1000 == 999) ins.executeBatch()
      }
      ins.executeBatch()
      conn.commit()
    }
    exec("CREATE SCHEMA BENCHSEED", s"CREATE TABLE $Seed ($Columns)",
      s"INSERT INTO $Seed SELECT * FROM $Table")
    if (previous != null)
      try DriverManager.getConnection(previous + ";drop=true").close()
      catch { case _: SQLException => } // a successful drop reports SQLState 08006
  }

  override def beforeIteration(spark: SparkSession): Unit =
    exec(s"TRUNCATE TABLE $Table", s"INSERT INTO $Table SELECT * FROM $Seed")

  /** JDBC columns → the engine's (id, name, tags) shape, hstore keys as a map. */
  private def osmShape(df: DataFrame): DataFrame = df.select(col("ID").as("id"), col("NAME").as("name"),
    map_filter(map(lit(OsmGen.ZhKey), col("ZH"), lit(OsmGen.HansKey), col("HANS"),
      lit(OsmGen.HantKey), col("HANT")), (_: Column, v: Column) => v.isNotNull).as("tags"))
  private def read(spark: SparkSession): DataFrame =
    Jdbc.readPartitioned(spark, url, Table, "ID", c.cores)
  private def derive(df: DataFrame): DataFrame = ZhEnrich.zhEnrich(osmShape(df), "id")
    .select(col("id").as("ID"), col("hans").as("HANS"), col("hant").as("HANT"))
  private def discover(): Unit = {
    val tables = Jdbc.discoverTables(url)
    if (!tables.exists(_.equalsIgnoreCase(Table)))
      throw new IllegalStateException(s"$Table not discovered in ${tables.mkString(",")}")
  }
  private def update(updates: DataFrame): Unit =
    JdbcUpdateSink.applyUpdates(updates, url, Table, "ID", Seq("HANS", "HANT"))
  private def rerun(spark: SparkSession): Unit = {
    val again = derive(read(spark)).count()
    if (again != 0) throw new IllegalStateException(s"re-run derived $again rows")
  }

  def run(spark: SparkSession): Unit = {
    discover()
    update(derive(read(spark)))
    rerun(spark)
  }

  def layers(spark: SparkSession, r: Report, warmS: Double, tracedS: Double): Unit = {
    // Each layer is timed on its own, median of three. They do not add
    // up to an iteration, in which Spark fuses read, derive and update
    // into one job, so there is no sum to check.
    val reps = 3
    def med(f: => Unit) = Stats.median((0 until reps).map(_ => Stats.time(f)))
    beforeIteration(spark)
    val discoverS = med(discover())
    val readS = med(Session.noop(read(spark)))
    // derive over a read that is already materialized, update over
    // updates that are already materialized
    val materialized = read(spark).localCheckpoint(eager = true)
    val deriveS = med(Session.noop(derive(materialized)))
    val updates = derive(materialized).localCheckpoint(eager = true)
    val updateS = Stats.median((0 until reps).map { _ =>
      beforeIteration(spark)
      Stats.time(update(updates))
    })
    val rerunS = med(Session.noop(read(spark)))
    // One more, untimed update through a JDBC driver that counts what the
    // sink sent and what the database reports it changed.
    beforeIteration(spark)
    val (batches, rows) = CountingDriver.count(
      JdbcUpdateSink.applyUpdates(updates, CountingDriver.url(url), Table, "ID", Seq("HANS", "HANT")))
    r.metric("sources.jdbc_discover_s", discoverS, "s")
    r.metric("sources.jdbc_read_s", readS, "s")
    r.metric("operators.derive_s", deriveS, "s")
    r.metric("sinks.update_s", updateS, "s")
    r.metric("sinks.rows_updated", rows, "count")
    r.metric("sinks.batches", batches, "count")
    r.metric("sinks.rows_per_s", rows / updateS, "rows/s")
    r.metric("sources.rerun_read_s", rerunS, "s")
    r.check("database reports the expected rows updated", rows == expectedUpdates,
      s"rows=$rows expected=$expectedUpdates")
  }

  private lazy val expectedUpdates: Long = (0L until Rows).count(id => row(id).derives).toLong

  def verify(spark: SparkSession, r: Report): Unit = {
    // State after the last iteration, against the pristine copy.
    val (changed, sample) = withConn { conn =>
      val rs = conn.createStatement().executeQuery(
        s"""SELECT COUNT(*) FROM $Table t JOIN $Seed s ON t.ID = s.ID
            WHERE COALESCE(t.HANS, '~') <> COALESCE(s.HANS, '~')
               OR COALESCE(t.HANT, '~') <> COALESCE(s.HANT, '~')""")
      rs.next()
      val n = rs.getLong(1)
      val q = conn.prepareStatement(s"SELECT HANS, HANT FROM $Table WHERE ID = ?")
      val sample = (0L until Rows by 997L).map { id =>
        q.setLong(1, id)
        val s = q.executeQuery()
        s.next()
        id -> (s.getString(1), s.getString(2))
      }
      (n, sample)
    }
    r.check("rows_updated = generator's expectation", changed == expectedUpdates,
      s"changed=$changed expected=$expectedUpdates")
    val bad = sample.filter { case (id, got) =>
      val o = row(id)
      val want = if (o.derives) (o.hansOr(Zh.toSimplified).orNull, o.hantOr(Zh.toTraditional).orNull)
        else (o.tags.getOrElse(OsmGen.HansKey, null), o.tags.getOrElse(OsmGen.HantKey, null))
      got != want
    }
    r.check("sampled rows match Zh.toSimplified/toTraditional", bad.isEmpty,
      bad.take(3).mkString("; "))
    r.info("jdbc_expected_updates") = expectedUpdates.toString
  }
}

/** A JDBC driver for `jdbc:perfbench:<rest>` that hands out connections
  * of `jdbc:<rest>` and counts, over every statement made from them, the
  * `executeBatch` calls and the row counts the database returns for them.
  * Spark runs at `local[n]`, so the sink's executor threads share these
  * counters with the harness. */
object CountingDriver extends java.sql.Driver {
  private val Prefix = "jdbc:perfbench:"
  private val batches, rows = new AtomicLong
  DriverManager.registerDriver(this)

  def url(target: String): String = Prefix + target.stripPrefix("jdbc:")

  /** Runs `body`; returns the batches and reported rows it moved. */
  def count(body: => Unit): (Long, Long) = {
    val (b0, r0) = (batches.get, rows.get)
    body
    (batches.get - b0, rows.get - r0)
  }

  private def proxy[T](target: AnyRef, iface: Class[_])(after: (Method, AnyRef) => AnyRef): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(iface), new InvocationHandler {
      def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
        val out = try m.invoke(target, Option(args).getOrElse(Array.empty[AnyRef]): _*) catch { case e: InvocationTargetException => throw e.getCause }
        after(m, out)
      }
    }).asInstanceOf[T]

  private def counted(st: AnyRef, iface: Class[_]): AnyRef = proxy[AnyRef](st, iface) { (m, out) =>
    if (m.getName == "executeBatch") {
      batches.incrementAndGet()
      rows.addAndGet(out.asInstanceOf[Array[Int]].filter(_ > 0).map(_.toLong).sum)
    }
    out
  }

  def connect(u: String, info: java.util.Properties): Connection =
    if (!acceptsURL(u)) null
    else proxy[Connection](DriverManager.getConnection("jdbc:" + u.stripPrefix(Prefix), info),
      classOf[Connection]) { (m, out) =>
      if (out != null && classOf[Statement].isAssignableFrom(m.getReturnType)) counted(out, m.getReturnType)
      else out
    }
  def acceptsURL(u: String): Boolean = u != null && u.startsWith(Prefix)
  def getPropertyInfo(u: String, info: java.util.Properties): Array[java.sql.DriverPropertyInfo] = Array()
  def getMajorVersion: Int = 1
  def getMinorVersion: Int = 0
  def jdbcCompliant: Boolean = false
  def getParentLogger: java.util.logging.Logger = throw new java.sql.SQLFeatureNotSupportedException()
}
